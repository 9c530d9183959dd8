"""Vector sidecolumns of engine tables: the one module that knows their
format. ``Table`` keeps its public vector methods as delegates into
this module, ``Table._write_files`` calls ``derive`` once per write and
``Table.statistics`` calls ``summary``.

The format:

- ``vector_quantize_cols`` (table property, comma list): every write
  stores ``__q8_<col>`` (array<tinyint>, ``floor(x * s + 0.5)``) and
  ``__q8s_<col>`` (float, the per-vector scale ``s = 127 / max|x|``)
  and lists ``<col>`` in the manifest entry's ``vq``.
- ``vector_cell_cols`` (table property, comma list): columns with a
  trained IVF cell model, the artifact ``_ivf_<col>.json`` at the
  table root (``n_cells``, ``n_iters``, ``model_id``, ``sample_mod``,
  ``trained_version``, ``centroids``). Every write derives
  ``__ivfc_<col>`` (int, the argmax-cosine cell against the frozen
  centroids), stamps the entry's ``ivfm`` {col: model_id} and, from
  the file's own parquet footer, ``cellr`` {col: [min cell, max cell]}.
- ``ivf_retrain_stale_frac`` (table property, float in (0, 1]): the
  drift past which a maintenance sweep retrains a cell model.

A file is *current* for a sidecolumn when its stamp says it carries
the stored column (``vq``) or carries it from the current model
(``ivfm``). Reads go through one per-file hybrid router (``route``,
``snapshot``): current files serve the stored column, every other file
derives it on the fly inside the same merge-on-read snapshot, and base
files current for the cell column prune by ``cellr`` — so a
convergence backlog costs only its own fraction of full-precision
reads (≈ Kudu serving each rowset by its own store state,
tablet/delta_tracker.cc). Derived codes and cells are byte-identical
to stored ones.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kudu_spark.errors import KuduSparkError
from kudu_spark.meta import ColumnSpec, FileEntry, TableState

Q8_PREFIX = "__q8_"
Q8S_PREFIX = "__q8s_"
IVFC_PREFIX = "__ivfc_"
_TYPES = {IVFC_PREFIX: "int", Q8_PREFIX: "array<tinyint>", Q8S_PREFIX: "float"}

# IO budget of one convergence step: sized like the auto-compaction
# budget — a sweep rewrites at most this much, the backlog amortizes
# across sweeps while hybrid serving keeps every already-rewritten
# file pruning
CONVERGE_BUDGET_BYTES = 256 << 20


def _listed(st: TableState, prop: str) -> list[str]:
    return [c.strip() for c in str(st.props.get(prop, "")).split(",") if c.strip()]


def quantize_cols(st: TableState) -> list[str]:
    return _listed(st, "vector_quantize_cols")


def cell_cols(st: TableState) -> list[str]:
    return _listed(st, "vector_cell_cols")


def retrain_enabled(st: TableState) -> bool:
    """Whether maintenance sweeps care for this table's cell models."""
    return st.props.get("ivf_retrain_stale_frac") is not None


def current(f: FileEntry, side: str, column: str, model_id: str | None = None) -> bool:
    """Whether ``f`` stores ``column``'s sidecolumn ``side`` (a prefix):
    the q8 pair when its ``vq`` stamp lists the column, the cell column
    when its ``ivfm`` stamp names model ``model_id``."""
    if side == IVFC_PREFIX:
        return bool(f.ivfm and f.ivfm.get(column) == model_id)
    return bool(f.vq and column in f.vq)


# -- the centroid artifact ------------------------------------------------------


def _artifact_path(t, column: str) -> str:
    return os.path.join(t.root, f"_ivf_{column}.json")


def artifact(t, column: str) -> dict | None:
    """The frozen centroid model for ``column``, or None before
    training. Tiny (n_cells x dims doubles) — read per plan."""
    try:
        return json.loads(t._env.read_bytes(_artifact_path(t, column)))
    except Exception:
        return None


def model(t, column: str) -> dict:
    art = artifact(t, column)
    if art is None:
        raise KuduSparkError(
            f"column {column!r} has no trained cell model; call "
            "train_vector_cells first")
    return art


def artifacts(t, st: TableState) -> dict:
    """{file name: model} of every trained cell column — what a backup
    or a table copy carries so the copy keeps deriving stored cells
    (publish with ``publish_artifacts``)."""
    out = {}
    for col in cell_cols(st):
        art = artifact(t, col)
        if art is not None:
            out[os.path.basename(_artifact_path(t, col))] = art
    return out


def publish_artifacts(t, arts: dict) -> None:
    for name, art in arts.items():
        t._env.write_bytes(os.path.join(t.root, name), json.dumps(art).encode())


# -- derivation -----------------------------------------------------------------


def quantize_exprs(column: str):
    """(q8 codes, scale) expressions over a full-precision vector
    column — what every write stores and every hybrid read derives
    (same floor(x+0.5) rounding, same 127/max|v| per-vector scale)."""
    from kudu_spark.operators.similarity import quantize_expr

    mx = F.aggregate(
        F.transform(F.col(column), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return (quantize_expr(F.col(column), scale).cast("array<tinyint>"),
            scale.cast("float"))


def _deriver(column: str, art: dict | None):
    """side -> expression deriving ``column``'s sidecolumn as ``derive``
    stores it, each built once."""
    built: dict = {}

    def expr(side: str):
        if side not in built:
            if side == IVFC_PREFIX:
                from kudu_spark.operators.similarity import assign_cells_expr

                built[side] = assign_cells_expr(column, art["centroids"])
            else:
                built[Q8_PREFIX], built[Q8S_PREFIX] = quantize_exprs(column)
        return built[side]

    return expr


def derive(t, st: TableState, out: DataFrame):
    """Write-time sidecolumns of one batch: the stored q8 pair of every
    ``vector_quantize_cols`` column and the cell of every trained
    ``vector_cell_cols`` column the batch carries — O(batch), no
    retraining. Cells use similarity.assign_cells_expr, the kernel
    k-means training assigns with, so engine stamping and operator
    training agree by construction. Deletes carry NULL vectors, and
    NULL or zero-norm vectors get NULL codes and cells.
    Returns ``(out, stamp)``; ``stamp(metadata)`` maps a written
    file's parquet footer metadata to its manifest stamps
    (FileEntry ``vq``, ``ivfm``, ``cellr``) with no extra job."""
    from kudu_spark.operators.similarity import assign_cells_expr

    vq = [vc for vc in quantize_cols(st) if vc in out.columns]
    for vc in vq:
        codes, scale = quantize_exprs(vc)
        out = out.withColumn(Q8_PREFIX + vc, codes).withColumn(Q8S_PREFIX + vc, scale)
    ivfm: dict = {}
    for vc in cell_cols(st):
        art = artifact(t, vc) if vc in out.columns else None
        if art:
            out = out.withColumn(IVFC_PREFIX + vc, assign_cells_expr(vc, art["centroids"]))
            ivfm[vc] = art.get("model_id", "")

    def stamp(md) -> dict:
        # [min, max] of each stored cell column lets base files prune
        # from the manifest (route) — the file-level complement of a
        # cell-clustered layout's row-group pruning
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        cellr: dict = {}
        for vc in ivfm:
            ci = names.get(IVFC_PREFIX + vc)
            if ci is None:
                continue
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                stat = md.row_group(rg).column(ci).statistics
                if stat is None or not stat.has_min_max or stat.min is None:
                    mns = []
                    break
                mns.append(int(stat.min))
                mxs.append(int(stat.max))
            if mns:
                cellr[vc] = [min(mns), max(mxs)]
        return {"vq": vq or None, "ivfm": ivfm or None, "cellr": cellr or None}

    return out, stamp


# -- the hybrid router --------------------------------------------------------------


def _augment(st: TableState, extras: list[tuple[str, str]]) -> TableState:
    """A shallow TableState copy whose schemas (current AND every
    historical version) carry ``extras`` as ordinary nullable columns
    with fixed synthetic ids (>= 1e6, far above real column ids), so
    the whole snapshot machinery — schema-versioned reads, merge
    windows, anti joins — projects stored sidecolumns without special
    cases. Files lacking a column read it as NULL."""

    def aug(sch):
        cols = list(sch.columns) + [
            ColumnSpec(id=1_000_000 + i, name=n, type=t, nullable=True)
            for i, (n, t) in enumerate(extras)
        ]
        return dataclasses.replace(sch, columns=cols)

    return dataclasses.replace(
        st, schema=aug(st.schema),
        schemas_by_version={v: aug(s) for v, s in st.schemas_by_version.items()})


def route(st: TableState, column: str, sides: tuple, art: dict | None = None,
          cells: list | None = None):
    """Plan one hybrid read of ``column``'s sidecolumns ``sides``
    (prefixes; the cell side needs the model ``art``) — no Spark.
    Returns ``(state, per_file, tag)`` for Table._snapshot_df:

    - ``state``: ``st`` with the sidecolumns added to its schemas and,
      when ``cells`` is given, its files pruned by ``cellr``. Only
      base files current for the cell column prune: a pruned base row
      is outside the probed cells or outranked by the delta row that
      moved it, while a stale file's ``cellr`` describes another cell
      space, and delta files must reach the merge window.
    - ``per_file``: None when every file is current for every side (the
      plan never reads the full-precision column); else FileEntry ->
      (group tag, transform) where a file current for every side reads
      as stored ("stored", None) and any other derives its stale sides
      (a tuple of prefixes) on the fly. The derivation overrides the
      column: a stale file may carry cells from a superseded model.
    - ``tag``: the derivation's identity for the merged-dirty frame
      cache (None with no derivation)."""
    mid = art.get("model_id", "") if IVFC_PREFIX in sides else None
    st2 = _augment(st, [(s + column, _TYPES[s]) for s in sides])
    if cells is not None:
        cset = {int(c) for c in cells}

        def keep(f):
            if f.kind != "base" or not current(f, IVFC_PREFIX, column, mid):
                return True
            rng = (f.cellr or {}).get(column)
            return rng is None or any(rng[0] <= c <= rng[1] for c in cset)

        st2 = dataclasses.replace(st2, files=[f for f in st2.files if keep(f)])
    if all(current(f, s, column, mid) for f in st.files for s in sides):
        return st2, None, None
    expr = _deriver(column, art)

    def per_file(f):
        stale = tuple(s for s in sides if not current(f, s, column, mid))
        if not stale:
            return "stored", None

        def xf(d):
            for s in stale:
                d = d.withColumn(s + column, expr(s))
            return d

        return stale, xf

    return st2, per_file, ("vector", column, mid, tuple(sides))


def snapshot(t, st: TableState, column: str, sides: tuple, art: dict | None = None,
             cells: list | None = None, filters: list | None = None) -> DataFrame:
    """Merge-on-read snapshot of ``st`` carrying ``column``'s
    sidecolumns ``sides``, restricted to ``cells`` when given (rows
    with a NULL vector belong to no cell) — the one read behind
    scan_quantized, scan_cells, quantized ANN serving and the ingest
    semantic dedup (see ``route``)."""
    st2, per_file, tag = route(st, column, sides, art, cells)
    df = t._snapshot_df(st2, filters, per_file=per_file, per_file_tag=tag)
    if cells is not None:
        df = df.where(F.col(IVFC_PREFIX + column).isin([int(c) for c in cells]))
    return df


def _require_quantized(st: TableState, column: str) -> None:
    if column not in quantize_cols(st):
        raise KuduSparkError(
            f"column {column!r} is not in vector_quantize_cols "
            f"({st.props.get('vector_quantize_cols', '')!r})")


def scan_quantized(t, column: str, filters: list | None = None,
                   version: int | None = None) -> DataFrame:
    """Snapshot scan of a vector column's stored int8 quantization:
    (pk..., __q8_<column>, __q8s_<column>) with full merge-on-read
    semantics. When every live file carries the stored pair (the
    steady state — compaction converges older files) the plan never
    touches the full-precision column: ~4x fewer bytes per ANN/dedup
    scan. Files predating the property quantize on the fly, per file."""
    st = t.state(version)
    _require_quantized(st, column)
    return snapshot(t, st, column, (Q8_PREFIX, Q8S_PREFIX), filters=filters).select(
        *st.schema.pk, Q8_PREFIX + column, Q8S_PREFIX + column)


def scan_cells(t, column: str, cells: list[int], filters: list | None = None,
               version: int | None = None, art: dict | None = None) -> DataFrame:
    """Snapshot scan restricted to the given IVF cells of ``column`` —
    the candidate fetch of ANN serving, with full merge-on-read
    semantics (an upserted vector is scored at its new value, a
    deleted one never returns). Files stamped by the current model
    serve the stored column and prune by ``cellr``; files predating
    training or stamped by a superseded model (a retrain) assign cells
    on the fly, so mid-convergence serves degrade only by the stale
    fraction. ``art`` pins an already-read model, so one serve's
    probes and candidates come from one centroid set even if a retrain
    publishes in between."""
    st = t.state(version)
    if column not in cell_cols(st):
        raise KuduSparkError(
            f"column {column!r} has no trained cell model "
            f"(vector_cell_cols={st.props.get('vector_cell_cols', '')!r})")
    return snapshot(t, st, column, (IVFC_PREFIX,), art or model(t, column), cells, filters)


# -- training and ANN serving --------------------------------------------------------


def train(t, column: str, n_cells: int = 8, n_iters: int = 3,
          sample_rows: int | None = None) -> None:
    """Train the k-means cell model for ``column`` over the current
    snapshot and freeze it as the table's artifact + the
    ``vector_cell_cols`` property: every LATER write (ingest batch,
    upsert, compaction rewrite) derives the stored cell from the
    frozen centroids — O(batch), no retraining, Kudu's compaction
    contract applied to an index. Retrain by calling again (new
    artifact; convergence rewrites old files). Deterministic: init =
    the embeddings of the ``n_cells`` smallest PKs, integer-sum Lloyd
    updates (operators/similarity.py kmeans_centroids).

    ``sample_rows`` trains on a deterministic hash-sample of about that
    many rows (xxhash64(pk) % m == 0) instead of the full snapshot —
    centroid quality needs a representative sample, not every vector,
    and training cost grows as rows x n_cells per iteration (measured
    in scripts/semantic_scale.py). Retraining over the same snapshot
    reproduces the same centroids."""
    from kudu_spark.operators.similarity import kmeans_centroids

    st = t.state()
    if len(st.schema.pk) != 1:
        raise KuduSparkError(
            "train_vector_cells requires a single-column PK "
            "(the deterministic k-means init orders by it)")
    st.schema.col(column)  # raises SchemaError on unknown column
    emb = t.scan(columns=[st.schema.pk[0], column]).select(
        F.col(st.schema.pk[0]).alias("vec_id"),
        F.col(column).alias("embedding"),
    ).where(F.col("embedding").isNotNull())
    sampled = None
    if sample_rows is not None:
        if sample_rows < n_cells:
            raise KuduSparkError(f"sample_rows={sample_rows} < n_cells={n_cells}")
        total = emb.count()
        m = max(1, total // max(sample_rows, 1))
        if m > 1:
            cand = emb.where(F.xxhash64(F.col("vec_id")) % m == 0)
            # the hash-sample is probabilistic: near sample_rows ~
            # n_cells it can undershoot n_cells, which would train
            # fewer centroids than the artifact records — fall back to
            # unsampled training
            if cand.count() >= n_cells:
                emb = cand
                sampled = m
    cents = kmeans_centroids(emb, k=n_cells, n_iters=n_iters)
    payload = json.dumps({"n_cells": n_cells, "n_iters": n_iters,
                          "model_id": uuid.uuid4().hex,
                          "sample_mod": sampled,
                          # version whose snapshot trained this model:
                          # files committed later hold rows the model
                          # never saw (drift)
                          "trained_version": st.version,
                          "centroids": cents}).encode()
    t._env.write_bytes(_artifact_path(t, column), payload)
    cols = set(cell_cols(st)) | {column}
    t._commit(st, "alter", [], props={"vector_cell_cols": ",".join(sorted(cols))})


def ann_topk(t, column: str, query_keys: list, k: int = 5, n_probes: int = 2,
             version: int | None = None, quantized: bool = False,
             refine: int = 4) -> DataFrame:
    """ANN top-k over the table's stored IVF cells for query rows of
    the table, by PK: (query_id, neighbor_id, rank, cosine). See
    ``_serve``."""
    st = t.state(version)
    art = model(t, column)
    pk0 = st.schema.pk[0]
    # bounded collect (|query_keys| rows, PK-pruned scan): probe cells
    # are computed on the driver, so the query vectors come there once
    qv_rows = [
        (r[0], r[1]) for r in t.scan(
            columns=[pk0, column], version=version,
            filters=[(pk0, "in", list(query_keys))],
        ).select(pk0, column).collect()
    ]
    return _serve(t, st, art, column, qv_rows, st.schema.col(pk0).type,
                  k, n_probes, version, quantized, refine, exclude_self=True)


def ann_topk_vectors(t, column: str, queries: list, k: int = 5, n_probes: int = 2,
                     version: int | None = None, quantized: bool = False,
                     refine: int = 4) -> DataFrame:
    """ANN top-k for external query vectors: ``queries`` is a list of
    (query_id, vector) pairs whose ids are result labels, not PKs, so
    no self-exclusion applies. Otherwise as ``ann_topk``."""
    st = t.state(version)
    art = model(t, column)
    pairs = [(int(i), [float(x) for x in v]) for i, v in queries if v is not None]
    if len({i for i, _ in pairs}) != len(pairs):
        # a repeated label would double-score every candidate and let
        # row_number hand the same neighbor consecutive ranks
        raise KuduSparkError("ann_topk_vectors: duplicate query ids")
    return _serve(t, st, art, column, pairs, "bigint", k, n_probes, version,
                  quantized, refine, exclude_self=False)


def _serve(t, st: TableState, art: dict, column: str, qv_rows: list, qid_type: str,
           k: int, n_probes: int, version: int | None, quantized: bool,
           refine: int, exclude_self: bool) -> DataFrame:
    """Serve core of ann_topk / ann_topk_vectors: probe cells from the
    frozen centroids, candidates from a cell-restricted merge-on-read
    snapshot, ranking by exact cosine — row-compatible with the
    operator family's ivf_kmeans_topk on identical data. ``version``
    time-travels the data; the model is always the current artifact
    (models are not versioned, like a Kudu index rebuild serving all
    reads), and stale stamps on old files derive on the fly.

    ``quantized=True`` (column also in vector_quantize_cols) composes
    both stored sidecolumns into IVF + int8-refine serving: the
    candidate pass reads only (pk, cell, q8) — the full-precision
    column never leaves parquet for converged files — scores an
    approximate cosine from the int8 codes (cosine is scale-invariant,
    so no __q8s read), keeps the top ``k * refine`` per query, then
    re-ranks that shortlist against exact vectors fetched by PK. Recall
    is the int8 shortlist's recall; ``refine`` trades candidate bytes
    for it.

    ``qv_rows`` must be serve-request sized: probe selection is driver
    math (probe_cells_py, a bit-identical fold) and the query and probe
    frames are inline literal frames, not createDataFrame (whose
    pickled-RDD frames spin Python workers on every downstream job,
    ~300-450 ms each). Query vectors are float32-rounded first (the
    conversion an array<float> column applies), so scores match stored
    arithmetic bit-for-bit; an array<double> column keeps them exact."""
    import struct as _struct

    from kudu_spark.operators.similarity import (
        cosine_with_norms,
        norm_expr,
        norm_py,
        probe_cells_py,
    )
    from kudu_spark.table import _inline_frame

    def _f32(x):
        return _struct.unpack("<f", _struct.pack("<f", float(x)))[0]

    pk0 = st.schema.pk[0]
    out_schema = (f"query_id {qid_type}, neighbor_id {st.schema.col(pk0).type}, "
                  "rank int, cosine double")
    double = re.sub(r"\s+", "", st.schema.col(column).type.lower()) == "array<double>"
    vec_type, conv = ("array<double>", float) if double else ("array<float>", _f32)
    # NULL vectors are never probed and never scored
    rows = [(q, [None if x is None else conv(x) for x in v])
            for q, v in qv_rows if v is not None]
    probe_rows = probe_cells_py(rows, art["centroids"], n_probes)
    if not probe_rows:
        return t.spark.createDataFrame([], out_schema)
    probe_cells = sorted({c for _, c in probe_rows})
    probes_df = F.broadcast(_inline_frame(t.spark, [
        F.struct(F.lit(q).cast(qid_type).alias("query_id"),
                 F.lit(int(c)).cast("int").alias("cell"))
        for q, c in probe_rows]))
    # query norms once per query row: every scoring stage folds only
    # the dot per (query, candidate) pair — norm_py is bit-identical to
    # the norm_expr fold (a NULL element folds to a NULL norm, like SQL)
    qv = F.broadcast(_inline_frame(t.spark, [
        F.struct(
            F.lit(q).cast(qid_type).alias("query_id"),
            F.lit(v).cast(vec_type).alias("qv"),
            (F.lit(norm_py(v)) if all(x is not None for x in v)
             else F.lit(None)).cast("double").alias("__qn"))
        for q, v in rows]))
    # one cell per snapshot row and unique (query, cell) probes: every
    # (query, neighbor) pair is unique, so no dedup stage is needed
    cn, qn = IVFC_PREFIX + column, Q8_PREFIX + column
    w2 = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("neighbor_id"))
    not_self = (F.col("neighbor_id") != F.col("query_id")) if exclude_self else F.lit(True)
    if quantized:
        _require_quantized(st, column)
        cand8 = snapshot(t, st, column, (IVFC_PREFIX, Q8_PREFIX), art, probe_cells).select(
            F.col(pk0).alias("neighbor_id"),
            F.col(qn).alias("cv8"),
            F.col(cn).alias("cell"),
        ).where(F.col("cv8").isNotNull()).withColumn("__cn8", norm_expr("cv8"))
        # all-zero codes have zero norm: a NULL cosine sorts last
        # instead of failing the job under ANSI division
        approx = (
            cand8.join(probes_df, "cell").where(not_self)
            .join(F.broadcast(qv), "query_id")
            .select("query_id", "neighbor_id",
                    cosine_with_norms("qv", "cv8", "__qn", "__cn8").alias("c"))
        )
        short = (
            approx.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= max(int(k) * max(int(refine), 1), k))
            .select("query_id", "neighbor_id")
        )
        # bounded collect: |queries| x k x refine shortlist ids
        ids = sorted({r["neighbor_id"] for r in
                      short.select("neighbor_id").distinct().collect()})
        if not ids:
            return short.select("query_id", "neighbor_id", F.lit(1).alias("rank"),
                                F.lit(0.0).alias("cosine")).limit(0)
        exact = t.scan(
            columns=[pk0, column], version=version, filters=[(pk0, "in", ids)],
        ).select(F.col(pk0).alias("neighbor_id"), F.col(column).alias("cv"),
                 norm_expr(column).alias("__cn"))
        scored = F.broadcast(short).join(exact, "neighbor_id")
    else:
        cand = scan_cells(t, column, probe_cells, version=version, art=art).select(
            F.col(pk0).alias("neighbor_id"),
            F.col(column).alias("cv"),
            F.col(cn).alias("cell"),
            norm_expr(column).alias("__cn"),
        )
        scored = cand.join(probes_df, "cell").where(not_self)
    scored = scored.join(F.broadcast(qv), "query_id").select(
        "query_id", "neighbor_id", cosine_with_norms("qv", "cv", "__qn", "__cn").alias("c"))
    return (
        # NULL cosine = a zero-norm side: "no match", never a ranked
        # neighbor (row_number would still rank NULL-c rows of a
        # zero-norm query)
        scored.where(F.col("c").isNotNull())
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("c", 6).alias("cosine"))
    )


# -- model care: staleness, drift, convergence, retrain --------------------------------


def staleness(t, column: str, st: TableState | None = None) -> float:
    """Fraction of the table's rows in files whose cell stamp is
    missing or from a superseded model — the rows cell scans derive on
    the fly, without pruning. O(metadata). Row counts include delta
    rows (tombstones too), an upper bound of the live share — the right
    bias for a maintenance trigger."""
    st = st or t.state()
    art = artifact(t, column)
    total = sum(f.rows for f in st.files)
    if art is None or total == 0:
        return 0.0
    mid = art.get("model_id", "")
    return sum(f.rows for f in st.files
               if not current(f, IVFC_PREFIX, column, mid)) / total


def drift(t, column: str, st: TableState | None = None) -> float:
    """Fraction of the table's rows committed after the current cell
    model's training snapshot — rows the frozen centroids never saw.
    This, not stamp staleness, is the retrain signal: post-training
    writes are stamped by the current model, while stale stamps only
    mean convergence has not reached a file yet. Measured from the
    commit log (mutation commits after trained_version; compaction is
    content-neutral and must not count, or every convergence rewrite
    would re-trigger its own retrain). Artifacts predating
    trained_version read as drift 1.0 (one catch-up retrain)."""
    st = st or t.state()
    art = artifact(t, column)
    total = sum(f.rows for f in st.files)
    if art is None or total == 0:
        return 0.0
    tv = art.get("trained_version")
    if tv is None:
        return 1.0
    if int(tv) >= st.version:
        return 0.0
    # bound the log walk (one metadata GET per commit on an object
    # store): a model that old under that much churn should retrain
    # anyway, so saturate instead of reading history
    if st.version - int(tv) > 8192:
        return 1.0
    from kudu_spark.meta import read_log

    mutation_ops = {"insert", "upsert", "update", "delete", "txn"}
    new = 0
    for c in read_log(t.root, st.version, min_version=int(tv)):
        if c.get("op") in mutation_ops:
            new += sum(a["file"]["rows"] for a in c.get("actions", [])
                       if a["type"] == "add")
    return min(1.0, new / total)


def converge(t, io_budget_bytes: int | None = None) -> dict:
    """ONE budgeted convergence step for stale cell stamps (and missing
    q8 pairs on quantized columns): rank partitions by
    stale-bytes-per-rewrite-byte with the shared compaction policy
    (table.rank_partitions) and compact the best set that fits the
    budget (CONVERGE_BUDGET_BYTES by default). Repeated sweeps drain
    the backlog while hybrid serving keeps every converged file
    pruning, so a retrain never costs a full-table rewrite. Returns
    {"partitions", "spent_bytes", "stale_partitions_left"}."""
    from kudu_spark.table import rank_partitions

    st = t.state()
    budget = int(io_budget_bytes) if io_budget_bytes is not None else CONVERGE_BUDGET_BYTES
    models = {}
    for c in cell_cols(st):
        art = artifact(t, c)
        if art is not None:
            models[c] = art.get("model_id", "")
    vq_cols = quantize_cols(st)
    if not models and not vq_cols:
        return {"partitions": 0, "spent_bytes": 0, "stale_partitions_left": 0}

    def stale(f):
        return (any(not current(f, IVFC_PREFIX, c, m) for c, m in models.items())
                or any(not current(f, Q8_PREFIX, c) for c in vq_cols))

    ranked, n = rank_partitions(
        st.files, lambda fs: sum(f.bytes for f in fs if stale(f)), budget)
    if n:
        t.compact(partitions=[c[0] for c in ranked[:n]])
    return {"partitions": n, "spent_bytes": sum(c[1] for c in ranked[:n]),
            "stale_partitions_left": len(ranked) - n}


def maybe_retrain(t) -> dict:
    """Maintenance care of cell models, in two budgeted motions, both
    gated on the ``ivf_retrain_stale_frac`` property (unset = off):

    1. RETRAIN a column whose ``drift`` crosses the threshold, from the
       current snapshot with the artifact's n_cells/n_iters/sampling.
       Drift, not staleness, triggers, so a convergence in progress
       (high staleness, zero drift) never restarts itself.
    2. CONVERGE one ``converge`` step whenever any stamp is stale.

    Returns {column: retrained} plus "__converge__" with the step's
    stats when one ran."""
    st = t.state()
    out: dict = {}
    raw = st.props.get("ivf_retrain_stale_frac")
    if raw is None:
        return out
    # validate before any work: a malformed value must surface as this
    # table's maintenance error, not silently disable the feature
    try:
        frac = float(str(raw).strip())
    except ValueError:
        frac = -1.0
    if not (0.0 < frac <= 1.0):
        raise KuduSparkError(f"ivf_retrain_stale_frac={raw!r} must be a float in (0, 1]")
    cols = [c for c in cell_cols(st) if artifact(t, c) is not None]
    if not cols:
        return out
    for col in cols:
        if drift(t, col, st) < frac:
            out[col] = False
            continue
        art = artifact(t, col)
        sample = None
        if art.get("sample_mod"):
            # keep the original sampling rate: about the same sample
            # size at the current row count
            sample = max(int(art.get("n_cells", 8)),
                         sum(f.rows for f in st.files) // int(art["sample_mod"]))
        train(t, col, n_cells=int(art.get("n_cells", 8)),
              n_iters=int(art.get("n_iters", 3)), sample_rows=sample)
        st = t.state()
        out[col] = True
    conv = converge(t)  # O(metadata) when converged
    if conv["partitions"] or conv["stale_partitions_left"]:
        out["__converge__"] = conv
    return out


def summary(t, st: TableState) -> dict:
    """The ``vector_cell_models`` key of Table.statistics(): per trained
    cell column, the model's identity, its stale-stamped row fraction
    (the convergence backlog hybrid serving absorbs) and its drift
    fraction (the auto-retrain trigger). O(metadata)."""
    models = {}
    for c in cell_cols(st):
        art = artifact(t, c)
        if art is not None:
            models[c] = {"model_id": art.get("model_id", ""),
                         "n_cells": int(art.get("n_cells", 0)),
                         "stale_fraction": round(staleness(t, c, st), 4),
                         "drift_fraction": round(drift(t, c, st), 4)}
    return {"vector_cell_models": models} if models else {}
