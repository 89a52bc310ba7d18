"""Persist / reload / incrementally extend the ANN index artifacts.

Serving needs the trained artifacts again and again: held in memory
(``localCheckpoint``) they last one session; a real deployment
persists them.  This module is that persistence: every artifact the
serving path consumes — IVF centroids + inverted lists, PQ codebooks +
coded corpus, LSH corpus buckets — lands as parquet, and
``load_ann_index`` rebuilds exactly the keyword arguments
``queries.llm_ops.knn_ann_union`` (and the underlying ``knn_ivf`` /
``knn_ivfpq`` / ``knn_lsh``) accept.

Every store here (ANN, token bags, lexical) commits through the
manifest-pointer protocol (:mod:`cosmap_spark.sinks.commit`): each
component of a save lands in its own immutable data dir and ONE
CAS-published manifest names the complete generation together with
its structural parameters.  Readers therefore see the old save or the
new one, never a mix of component generations; a serving session can
refuse a mismatched probe configuration loudly instead of returning
silently wrong neighbors; crashed saves leak only
reachability-vacuumable orphans (``ManifestStore(path).vacuum()``);
and ``version=`` pins a load to a historical save.

``ivf_append`` is the incremental path: new vectors are ASSIGNED to
the existing (frozen) centroids and unioned into the inverted lists —
one bounded Arrow pass over the new batch only, the standard
serve-time index maintenance (periodic retrain handles centroid
drift; the append never touches history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmap_spark.sinks.commit import ManifestStore


def save_ann_index(
    path: str,
    *,
    index=None,
    codebooks=None,
    lsh_index: DataFrame | None = None,
    coded: DataFrame | None = None,
    residual: bool = False,
    opq=None,
    opq_codebooks=None,
    opq_coded: DataFrame | None = None,
    bq_bits: DataFrame | None = None,
    fs=None,
) -> None:
    """Write the given artifacts under ``path`` (parquet + manifest).
    ``index`` is an ``ivf_build`` result ``(centroids, assigned)``;
    ``codebooks`` a ``pq_train`` nested list; ``lsh_index`` an
    ``lsh_build`` DataFrame; ``coded`` a ``pq_encode`` DataFrame.
    ``residual=True`` records that the PQ artifacts encode
    v − centroid[cid] (``knn_ivfpq(residual=True)`` layout) — codes
    are meaningless under the wrong layout, so the flag travels in
    the manifest and ``load_ann_index`` surfaces it for the serving
    call to pass through.

    ``opq``/``opq_codebooks``/``opq_coded`` persist the OPQ family
    (``pq.opq_train``'s rotation + codebooks and the coded ROTATED
    corpus): the rotation is O(d²) driver state like the codebooks,
    and codes produced under a rotation are meaningless without it —
    storing them together is what makes a loaded OPQ serve
    row-identical to the in-memory one.

    A re-save publishes the next manifest version; the previous save
    stays loadable through ``load_ann_index(version=)``."""
    ms = ManifestStore(path, fs)
    dirs: dict[str, str] = {}

    def dest(name: str) -> str:
        rel, target = ms.new_data_dir()
        dirs[name] = rel
        return target

    manifest: dict = {"components": []}
    if residual:
        manifest["residual"] = True
    spark = None
    if index is not None:
        cents, assigned = index
        spark = assigned.sparkSession
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
            "cid INT, cvec ARRAY<DOUBLE>",
        ).write.mode("overwrite").parquet(dest("ivf_centroids"))
        assigned.write.mode("overwrite").parquet(dest("ivf_assigned"))
        manifest["components"].append("ivf")
        manifest["nlist"] = len(cents)
    if codebooks is not None:
        rows = [
            (s, c, [float(x) for x in codebooks[s][c]])
            for s in range(len(codebooks))
            for c in range(len(codebooks[s]))
        ]
        spark = spark or _require_session(lsh_index, coded)
        spark.createDataFrame(
            rows, "s INT, code INT, vals ARRAY<DOUBLE>"
        ).write.mode("overwrite").parquet(dest("pq_codebooks"))
        manifest["components"].append("pq")
        manifest["m"] = len(codebooks)
        manifest["ksub"] = len(codebooks[0])
    if coded is not None:
        # partitionBy(cid): the inverted lists become DIRECTORIES, so a
        # probe-pruned serve (knn_ivfpq(prune_scan=True)) skips whole
        # lists at the file-listing level — the on-disk layout the
        # SCALE.md §Similarity search story promises (inside the
        # component's immutable data dir)
        coded.write.mode("overwrite").partitionBy("cid").parquet(
            dest("pq_coded")
        )
        manifest["components"].append("coded")
    if lsh_index is not None:
        lsh_index.write.mode("overwrite").parquet(dest("lsh_buckets"))
        manifest["components"].append("lsh")
    if opq is not None:
        spark = spark or _require_session(lsh_index, coded, opq_coded)
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(opq)],
            "i INT, row ARRAY<DOUBLE>",
        ).write.mode("overwrite").parquet(dest("opq_rotation"))
        manifest["components"].append("opq")
        manifest["opq_dim"] = len(opq)
    if opq_codebooks is not None:
        rows = [
            (s, c, [float(x) for x in opq_codebooks[s][c]])
            for s in range(len(opq_codebooks))
            for c in range(len(opq_codebooks[s]))
        ]
        spark = spark or _require_session(lsh_index, coded, opq_coded)
        spark.createDataFrame(
            rows, "s INT, code INT, vals ARRAY<DOUBLE>"
        ).write.mode("overwrite").parquet(dest("opq_codebooks"))
        manifest["components"].append("opq_pq")
        manifest["opq_m"] = len(opq_codebooks)
        manifest["opq_ksub"] = len(opq_codebooks[0])
    if opq_coded is not None:
        # flat OPQ-PQ has no inverted lists to prune — plain layout
        opq_coded.write.mode("overwrite").parquet(dest("opq_coded"))
        manifest["components"].append("opq_coded")
    if bq_bits is not None:
        # binarize_vectors words (the knn_binary serve artifact): one
        # LONG array per id — the 32x-compressed scan column
        bq_bits.write.mode("overwrite").parquet(dest("bq_bits"))
        manifest["components"].append("bq")
    version = ms.versions()[-1] if ms.exists() else 0
    ms.publish(
        {**manifest, "dirs": dirs, "data_dirs": sorted(dirs.values())},
        expected_version=version,
    )


def save_token_bags(
    path: str,
    centroids: list[tuple[int, list[float]]],
    bags: DataFrame,
    *,
    normalize: bool = True,
    fs=None,
) -> None:
    """Persist a :func:`cosmap_spark.operators.retrieval.
    maxsim_token_quantizer` result beside an index — the token-level
    centroid vectors plus the per-doc bags ``[nid, bag array<int>]``
    that :func:`cosmap_spark.operators.retrieval.maxsim_rerank_plaid`
    consumes.  Centroids and bags land in immutable data dirs of the
    ``<path>/plaid`` store and ONE CAS-published manifest names them
    together with the training ``normalize`` flag (bags scored under
    the wrong convention are meaningless, the ``residual`` flag
    lesson) — a crash mid-RE-save can never leave new data under an
    old manifest, re-saves just publish the next version, and crashed
    saves leak only reachability-vacuumable orphans
    (``ManifestStore(<path>/plaid).vacuum()``)."""
    ms = ManifestStore(f"{path.rstrip('/')}/plaid", fs)
    spark = bags.sparkSession
    version = ms.versions()[-1] if ms.exists() else 0
    crel, ctarget = ms.new_data_dir()
    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cid INT, cvec ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(ctarget)
    brel, btarget = ms.new_data_dir()
    bags.write.mode("overwrite").parquet(btarget)
    ms.publish(
        {
            "components": ["plaid"],
            "nlist": len(centroids),
            "normalize": bool(normalize),
            "centroids": crel,
            "bags": brel,
            "data_dirs": [crel, brel],
        },
        expected_version=version,
    )


def load_token_bags(spark: SparkSession, path: str, *, fs=None) -> dict:
    """Reload a ``save_token_bags`` store: ``{"centroids": [...],
    "bags": DataFrame, "normalize": bool}`` — pass centroids/bags to
    ``maxsim_rerank_plaid`` with the recorded ``normalize``.  Loaded
    serving is asserted row-identical to in-memory artifacts in
    tests/test_retrieval.py."""
    ms = ManifestStore(f"{path.rstrip('/')}/plaid", fs)
    _, man = ms.latest()
    cents = [
        (r["cid"], list(r["cvec"]))
        for r in spark.read.parquet(ms.data_path(man["centroids"])).collect()
    ]
    cents.sort(key=lambda t: t[0])
    return {
        "centroids": cents,
        "bags": spark.read.parquet(ms.data_path(man["bags"])),
        "normalize": bool(man.get("normalize", True)),
    }


def _require_session(*dfs) -> SparkSession:
    for df in dfs:
        if df is not None:
            return df.sparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            "save_ann_index needs a SparkSession to write driver-side "
            "artifacts (codebooks/centroids), but no DataFrame argument "
            "was given and no session is active — create one first"
        )
    return spark


def load_ann_index(spark: SparkSession, path: str, *,
                   version: int | None = None, fs=None) -> dict:
    """Reload a ``save_ann_index`` directory.  Returns a dict whose
    keys mirror ``knn_ann_union``'s keyword arguments — pass it
    through as ``knn_ann_union(spark, sf_dir, **loaded)``; components
    absent from the manifest are simply missing from the dict (the
    consumer then retrains or rejects).  Loaded serve results are
    asserted row-identical to in-memory artifacts in
    tests/test_index_store.py.  ``version=`` pins the load to a
    historical save."""
    ms = ManifestStore(path, fs)
    manifest = ms.latest()[1] if version is None else ms.read_version(version)

    def src(name: str) -> str:
        return ms.data_path(manifest["dirs"][name])

    out: dict = {}
    if "ivf" in manifest["components"]:
        cents = [
            (r["cid"], list(r["cvec"]))
            for r in spark.read.parquet(src("ivf_centroids"))
            .orderBy("cid")
            .collect()
        ]
        assigned = spark.read.parquet(src("ivf_assigned"))
        out["index"] = (cents, assigned)
    if "pq" in manifest["components"]:
        rows = spark.read.parquet(src("pq_codebooks")).collect()
        m, ksub = manifest["m"], manifest["ksub"]
        books = [[None] * ksub for _ in range(m)]
        for r in rows:
            books[r["s"]][r["code"]] = list(r["vals"])
        out["codebooks"] = books
    if "coded" in manifest["components"]:
        coded = spark.read.parquet(src("pq_coded"))
        # the discovered partition column comes back as INT; the
        # in-memory contract (and pq_append's unionByName) is LONG
        out["coded"] = coded.withColumn("cid", F.col("cid").cast("long"))
    if "lsh" in manifest["components"]:
        out["lsh_index"] = spark.read.parquet(src("lsh_buckets"))
    if "opq" in manifest["components"]:
        rows = spark.read.parquet(src("opq_rotation")) \
            .orderBy("i").collect()
        out["opq_rot"] = [list(r["row"]) for r in rows]
    if "opq_pq" in manifest["components"]:
        rows = spark.read.parquet(src("opq_codebooks")).collect()
        m, ksub = manifest["opq_m"], manifest["opq_ksub"]
        books = [[None] * ksub for _ in range(m)]
        for r in rows:
            books[r["s"]][r["code"]] = list(r["vals"])
        out["opq_books"] = books
    if "opq_coded" in manifest["components"]:
        out["opq_coded"] = spark.read.parquet(src("opq_coded"))
    if "bq" in manifest["components"]:
        out["bq_bits"] = spark.read.parquet(src("bq_bits"))
    if manifest.get("residual"):
        out["residual"] = True
    return out


def ivf_append(
    index,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Assign a batch of NEW vectors to the existing (frozen) IVF
    centroids and union them into the inverted lists — the incremental
    index-maintenance path: one Arrow assignment pass over the new
    batch, history untouched, centroids unchanged (periodic retrain
    handles drift).  Returns the updated ``(centroids, assigned)``."""
    from cosmap_spark.operators.knn import ivf_assign

    cents, assigned = index
    fresh = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    return cents, assigned.select("nid", "nvec", "cid").unionByName(
        fresh.select("nid", "nvec", "cid")
    )


def pq_append(
    index,
    codebooks,
    coded: DataFrame,
    new_vectors: DataFrame,
    *,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """:func:`ivf_append`'s counterpart for a PQ-coded corpus: assign
    the new batch to the FROZEN centroids, encode it with the FROZEN
    codebooks (residuals first when the index uses the residual
    layout — pass the manifest's flag), and union into the coded
    table.  One Arrow assignment + one Arrow encode over the NEW rows
    only; history is never re-read or re-encoded, so the incremental
    cost is O(batch), the same maintenance contract as
    ``ivf_append``.  Returns ``((centroids, assigned), coded)`` both
    updated; codes are bit-identical to a from-scratch encode under
    the same artifacts (frozen quantizers are deterministic — pinned
    in tests/test_index_store.py)."""
    from cosmap_spark.operators.knn import ivf_assign
    from cosmap_spark.operators.pq import ivf_residuals, pq_encode

    cents, assigned = index
    fresh = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    if residual:
        src, src_vec = ivf_residuals(fresh, cents), "rvec"
    else:
        src, src_vec = fresh, "nvec"
    fresh_coded = pq_encode(
        src, codebooks, id_col="nid", vec_col=src_vec, keep=["cid"]
    )
    appended = assigned.select("nid", "nvec", "cid").unionByName(
        fresh.select("nid", "nvec", "cid")
    )
    return (cents, appended), coded.select("nid", "codes", "cid").unionByName(
        fresh_coded.select("nid", "codes", "cid")
    )


# --- lexical (BM25) index persistence -------------------------------

def save_lex_index(
    path: str, tf: DataFrame, lens: DataFrame | None = None, *,
    fs=None,
) -> None:
    """Persist a lexical index (``retrieval.build_lex_index`` result)
    under ``path``: the (doc, term, tf) table lands REPARTITIONED AND
    SORTED BY TERM so the serve-time ``term IN (query vocabulary)``
    filter prunes at parquet row-group granularity (min/max stats —
    the lexical twin of ``save_ann_index``'s partitionBy(cid) layout);
    doc lengths land beside it, and the manifest records
    ``n_docs``/``total_len`` so a serving session derives
    ``avgdl = total_len / n_docs`` without scanning anything.

    ``lens=None`` (recommended) derives the length table from the
    WRITTEN tf parquet — the whole save then tokenizes the corpus
    exactly ONCE; passing an explicit ``lens`` re-runs its lineage
    (a second full tokenize for a ``build_lex_index`` frame).  The
    corpus stats always aggregate the written lens parquet, never a
    lineage.

    A POSITIONAL tf (``build_lex_index(positions=True)`` — carries
    ``pos array<int>``) persists as-is; the manifest records
    ``positional`` so ``load_lex_index`` can assert phrase-query
    capability and ``lex_append`` builds batches with the matching
    schema.

    The tf and lens tables land in immutable data dirs and ONE CAS
    publish names the complete generation, so a crash between the tf
    and lens writes cannot leave a NEW tf under OLD lens/stats
    (silently wrong BM25 norms).  Incremental maintenance is the
    SEGMENT STACK (``lex_append`` appends immutable segments;
    ``_lex_resolve_segments`` reconciles latest-unit-wins); re-saving
    the loaded reconciled tf through this function IS the compaction —
    it publishes a folded, term-sorted generation with no ``segments``
    list."""
    spark = tf.sparkSession
    ms = ManifestStore(path, fs)
    trel, ttarget = ms.new_data_dir()
    tf.repartition(F.col("term")).sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(ttarget)
    if lens is None:
        lens = (
            spark.read.parquet(ttarget)
            .groupBy("__d").agg(F.sum("tf").alias("dl"))
        )
    lrel, ltarget = ms.new_data_dir()
    lens.write.mode("overwrite").parquet(ltarget)
    row = spark.read.parquet(ltarget).agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    version = ms.versions()[-1] if ms.exists() else 0
    ms.publish(
        {
            "components": ["lex"],
            "n_docs": int(row["n"] or 0),
            "total_len": int(row["t"] or 0),
            "positional": "pos" in tf.columns,
            "dirs": {"lex_tf": trel, "lex_lens": lrel},
            "data_dirs": [trel, lrel],
        },
        expected_version=version,
    )


def _lex_resolve_segments(spark: SparkSession, ms, manifest: dict):
    """Reconcile a lexical index's SEGMENT STACK into
    (tf, lens) frames — the Lucene/ES segment model as DataFrame
    algebra: unit 0 is the saved base, units 1..N the appended
    segments in publish order; a doc's postings come from the LATEST
    unit whose ``drop`` list contains it (each segment's drop list =
    every doc id its batch carried, so re-submits replace wholesale
    and retractions — batch docs tokenizing to nothing — vanish).
    Each unit anti-joins the UNION of all LATER drop lists: doc-count-
    sized sets, broadcast, so the token tables never shuffle."""
    segs = manifest.get("segments", [])
    units = [(ms.data_path(manifest["dirs"]["lex_tf"]),
              ms.data_path(manifest["dirs"]["lex_lens"]))] + [
        (ms.data_path(s["tf"]), ms.data_path(s["lens"])) for s in segs
    ]
    drops = [
        spark.read.parquet(ms.data_path(s["drop"])).select("__d")
        for s in segs
    ]
    tf_parts, lens_parts = [], []
    for i, (tdir, ldir) in enumerate(units):
        t = spark.read.parquet(tdir)
        ln = spark.read.parquet(ldir)
        later = drops[i:]  # unit i is overridden by segments i+1..N,
        # whose drop lists are drops[i:] (drops[j] belongs to unit j+1)
        if later:
            killset = later[0]
            for d in later[1:]:
                killset = killset.unionByName(d)
            killset = killset.distinct()
            t = t.join(F.broadcast(killset), "__d", "left_anti")
            ln = ln.join(F.broadcast(killset), "__d", "left_anti")
        tf_parts.append(t)
        lens_parts.append(ln)
    # allowMissingColumns: a segment appended with allow_new_columns
    # carries posting columns older units lack (NULL there)
    tf = tf_parts[0]
    for t in tf_parts[1:]:
        tf = tf.unionByName(t, allowMissingColumns=True)
    lens = lens_parts[0]
    for ln in lens_parts[1:]:
        lens = lens.unionByName(ln, allowMissingColumns=True)
    return tf, lens


def load_lex_index(spark: SparkSession, path: str, *,
                   version: int | None = None, fs=None) -> dict:
    """Reload a ``save_lex_index`` directory as the ``prebuilt`` dict
    ``retrieval.bm25_search`` accepts: ``tf``/``lens`` frames plus the
    manifest's ``n_docs`` and the derived ``avgdl`` (``total_len /
    n_docs`` — the exact division the inline ``avg("dl")`` performs on
    integer lengths, so loaded serving is row-identical to in-memory,
    pinned in tests/test_index_store.py).  ``version=`` pins the load
    to a historical generation."""
    ms = ManifestStore(path, fs)
    manifest = ms.latest()[1] if version is None else ms.read_version(version)
    if "lex" not in manifest["components"]:
        raise ValueError(f"{path}: not a lexical index (see manifest)")
    tf, lens = _lex_resolve_segments(spark, ms, manifest)
    out = {
        "tf": tf,
        "lens": lens,
        "n_docs": manifest["n_docs"],
        "positional": bool(manifest.get("positional", False)),
    }
    if out["n_docs"]:
        out["avgdl"] = manifest["total_len"] / out["n_docs"]
    return out


def lex_append(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    allow_new_columns: bool = False,
    fs=None,
) -> None:
    """Incrementally maintain a persisted lexical index: tokenize ONLY
    the new batch and merge it in — history is never re-tokenized.

    Maintenance is a SEGMENT STACK (the Lucene/ES model on the commit
    protocol): the batch is tokenized into one immutable segment —
    tf + lens + a drop list of every doc id the batch carried, which
    covers re-submits AND retractions — and ONE CAS publish appends it
    to the manifest.  Reads reconcile latest-unit-wins via broadcast
    anti-joins (``_lex_resolve_segments``).  O(batch) data written; the
    only history read is the doc-count-sized lens reconcile that
    refreshes the manifest's corpus stats.

    Appended-then-loaded serving is row-identical to an index rebuilt
    from scratch on the merged corpus (pinned for both the fresh-ids
    and the resubmitted-doc case in tests/test_index_store.py).
    A batch doc with NULL text is a RETRACTION — its lexical rows are
    deleted (a rebuild over the merged corpus drops it the same way,
    since tokenization emits nothing for NULL text).

    Layout note: segments are NOT term-sorted, so the term-pruning
    layout ``save_lex_index`` establishes degrades by the appended
    fraction; re-saving the loaded reconciled tf through
    ``save_lex_index`` is the compaction that folds the stack and
    restores term order.

    ``allow_new_columns=True`` is ADD-only schema evolution: a batch
    built by a NEWER ``build_lex_index`` that emits extra posting
    columns keeps them (older units read back NULL there); without it
    the segment is aligned to the stored columns and extras are
    dropped.  The positional/bag-of-words SHAPE still follows the
    manifest (a positional store gets positional batches), because
    phrase-query capability is all-or-nothing — a half-positional
    index would silently miss phrases over its NULL-pos rows."""
    from cosmap_spark.operators.retrieval import build_lex_index

    # a NULL doc id is unaddressable: its postings survive every
    # doc-keyed anti-join (equi-joins never match NULL), so each append
    # would silently ACCUMULATE another copy that no re-submit or
    # retraction can ever replace — refuse at the write boundary, the
    # mor-store null-key rule (one eager batch-sized job)
    if new_docs.where(F.col(id_col).isNull()).limit(1).count():
        raise ValueError(
            f"lex_append: NULL values in id column {id_col!r} — "
            "doc-keyed index maintenance is null-unsafe by contract; "
            "drop or fill NULL-id rows upstream (a RETRACTION is a "
            "NULL-text row with a real id)"
        )
    ms = ManifestStore(path, fs)
    version, man = ms.latest()
    tf_new, lens_new = build_lex_index(
        new_docs, id_col=id_col, text_col=text_col,
        positions=bool(man.get("positional", False)),
    )
    if not allow_new_columns:
        tf_old, lens_old = _lex_resolve_segments(spark, ms, man)
        tf_new = tf_new.select(
            *[c for c in tf_new.columns if c in tf_old.columns]
        )
        lens_new = lens_new.select(
            *[c for c in lens_new.columns if c in lens_old.columns]
        )
    drop = new_docs.select(
        F.col(id_col).alias("__d")
    ).where(F.col("__d").isNotNull()).distinct()
    trel, ttarget = ms.new_data_dir()
    tf_new.write.mode("overwrite").parquet(ttarget)
    lrel, ltarget = ms.new_data_dir()
    lens_new.write.mode("overwrite").parquet(ltarget)
    drel, dtarget = ms.new_data_dir()
    drop.write.mode("overwrite").parquet(dtarget)
    new_man = {
        **{k: man[k] for k in ("components", "positional", "dirs")},
        "segments": man.get("segments", [])
        + [{"tf": trel, "lens": lrel, "drop": drel}],
        "data_dirs": man["data_dirs"] + [trel, lrel, drel],
    }
    # corpus stats of the RECONCILED view (doc-count-sized scans)
    _, lens_all = _lex_resolve_segments(spark, ms, new_man)
    row = lens_all.agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    new_man["n_docs"] = int(row["n"] or 0)
    new_man["total_len"] = int(row["t"] or 0)
    ms.publish(new_man, expected_version=version)
