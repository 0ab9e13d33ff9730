"""Similarity search over embedding columns.

Net-new over the reference (north-star requirement): brute-force cosine
top-k as the exact baseline, random-hyperplane LSH bucketing (candidates
from matching buckets only, then exact re-rank), IVF with an optional
product-quantized index, and spherical k-means clustering.

Scale design (100 TB):
- brute-force is query-broadcast × corpus — linear scan, no shuffle
  beyond the final per-query top-k;
- LSH replaces the linear scan with an equi-join on bucket signature
  (a native higher-order-function expression, whole-stage codegen);
  plane count trades recall vs candidate volume;
- IVF probes ``nprobe`` of ``nlist`` k-means lists, with a static
  cluster predicate a partitioned stored index prunes at the scan.

Dense scoring runs in numpy over Arrow batches, through four kernels
defined once here and shared with dedup.py:
- per-query top-k over a scored batch, merged by one ``row_number``
  window (``_topk_search``, ``_rank_per_query``) — the
  local-top-k-then-merge shape of REPOSE (ICDE 2021);
- nearest-centroid scoring (``_assign_clusters``, run by
  ``_assign_pass``);
- the block-pair threshold matmul (``_pack_blocks`` +
  ``_block_pair_pass``);
- row-pair cosine (``_row_pair_pass``).
Every cosine is dot / (|a|·|b|) rounded to 6 places, the op order of
the JVM fold (``cosine_expr``) and of the DuckDB oracle.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import small_df
from ..table import Table

# Query vectors are collected to the driver and broadcast (the probe set
# of a top-k search is small by contract). The cap turns a silent driver
# OOM from an oversized query table into an immediate, actionable error:
# 65536 queries x dim-1024 float64 is ~512 MB of broadcast — already at
# the edge of sane. Large query sets should be chunked by the caller or
# joined corpus-vs-corpus via the LSH pair path (dedup.py).
MAX_QUERY_VECTORS = 65536


def _query_matrix(
    queries: Table, qid: str, vec_col: str, max_queries: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect the query side of a top-k search: (ids, vectors, norms).
    Bounded: raises ``ValueError`` instead of silently OOMing the driver
    when the query table exceeds the cap (checked with a
    ``limit(cap+1)`` scan, not a full count)."""
    rows = (
        queries.df.select(qid, F.col(vec_col).cast("array<double>"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(rows) > max_queries:
        raise ValueError(
            f"query table exceeds max_queries={max_queries}; top-k search "
            "broadcasts the query side — chunk the queries or raise "
            "max_queries explicitly if the driver has the memory"
        )
    q_ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if not rows:
        Q = Q.reshape(0, 0)
    return q_ids, Q, np.linalg.norm(Q, axis=1)


def _vec_matrix(series) -> np.ndarray:
    """Arrow cells -> (n, dim) float64 matrix, fast path. Under Arrow,
    array<double> cells arrive as numpy arrays; np.stack avoids the
    per-element Python-float boxing of a list comprehension (6.2x
    measured at 20k x dim-64). List cells (non-Arrow fallbacks) stack
    identically; values are bit-identical either way. Accepts a pandas
    Series or any sequence of vectors."""
    cells = series.to_numpy() if hasattr(series, "to_numpy") else series
    return np.stack(cells).astype(np.float64, copy=False)


def _cosine_matrix(A: np.ndarray, B: np.ndarray, b_norms: np.ndarray) -> np.ndarray:
    """Rounded cosine of every row of ``A`` against every row of ``B``:
    one BLAS matmul, then dot / (|a|·|b|) — the op order of the JVM
    fold and DuckDB, so every matmul path scores bit-identically."""
    return np.round((A @ B.T) / np.outer(np.linalg.norm(A, axis=1), b_norms), 6)


def _cosine_scores(pdf, Q: np.ndarray, q_norms: np.ndarray) -> np.ndarray:
    """Top-k scorer: exact rounded cosine of the batch's ``cvec`` rows
    against every query, (rows × queries)."""
    return _cosine_matrix(_vec_matrix(pdf["cvec"]), Q, q_norms)


def _adc_scores(
    pdf, lut: np.ndarray, code_norm2: np.ndarray, q_norms: np.ndarray
) -> np.ndarray:
    """Top-k scorer over PQ ``codes``: asymmetric-distance cosine from
    the per-subspace lookup tables (``lut`` (m, nq, ksub), ``code_norm2``
    (m, ksub)), (rows × queries). Approximate: it only orders
    candidates for the exact re-rank."""
    m = lut.shape[0]
    U = np.stack(
        [np.frombuffer(b, dtype=np.uint8, count=m) for b in pdf["codes"]]
    )  # (n, m)
    D = np.zeros((lut.shape[1], len(U)), dtype=np.float64)
    v2 = np.zeros(len(U), dtype=np.float64)
    for s in range(m):
        D += lut[s][:, U[:, s]]
        v2 += code_norm2[s][U[:, s]]
    vnorm = np.sqrt(v2)
    denom = np.where(vnorm == 0, 1.0, vnorm)[None, :] * np.where(
        q_norms == 0, 1.0, q_norms
    )[:, None]
    return (D / denom).T


def _rank_per_query(
    scored: DataFrame, n: int, score_col: str = "cosine", rank_col: str = "rank"
) -> DataFrame:
    """Merge per-batch candidates into each query's top ``n``: the one
    ``row_number`` window, ordered by score desc then ``corpus_id``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("corpus_id").asc()
    )
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= F.lit(n)
    )


def _topk_search(
    cdf: DataFrame,
    q_ids: np.ndarray,
    score,
    n: int,
    allowed: dict | None = None,
    score_col: str = "cosine",
    rank_col: str = "rank",
) -> DataFrame:
    """The one per-query top-k kernel: local top-``n`` per Arrow batch,
    then one window merge (``_rank_per_query``), so the shuffle carries
    ≤ n·batches rows per query instead of the full N·Q score matrix.

    ``score(pdf)`` turns a batch of ``corpus_id`` rows into a (rows ×
    queries) score matrix; ``allowed`` (or ``None``) maps each
    ``cluster`` to the queries that probe it. Each batch emits at most
    ``n`` rows per query: the highest scores, ties broken toward the
    lower ``corpus_id`` (the total order the window merges by), never
    the query itself.
    """
    bq = cdf.sparkSession.sparkContext.broadcast((q_ids, score, allowed))

    def topk(batches):
        import pandas as pd

        q_ids, score, allowed = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            S = score(pdf)
            cids = pdf["corpus_id"].to_numpy()
            probes = (
                None
                if allowed is None
                else np.stack([allowed[int(c)] for c in pdf["cluster"]])
            )
            frames = []
            for qi, qv in enumerate(q_ids):
                ok = cids != qv
                if probes is not None:
                    ok &= probes[:, qi]
                idx = np.nonzero(ok)[0]
                if idx.size == 0:
                    continue
                col = S[:, qi]
                sel = idx[np.lexsort((cids[idx], -col[idx]))[:n]]
                frames.append(
                    pd.DataFrame(
                        {"query_id": qv, "corpus_id": cids[sel], score_col: col[sel]}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    local = cdf.mapInPandas(
        topk, f"query_id long, corpus_id long, {score_col} double"
    )
    return _rank_per_query(local, n, score_col, rank_col)


def _empty_topk(spark, name: str) -> Table:
    return Table.from_df(
        spark.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank int"
        ),
        name=name,
    )


def _probe_plan(
    Q: np.ndarray, q_norms: np.ndarray, cents: np.ndarray, nprobe: int
) -> tuple[list, dict]:
    """Each query probes its ``nprobe`` nearest centroids. Returns the
    sorted union of probed clusters (a static scan predicate a
    cluster-partitioned stored index prunes by) and, per probed
    cluster, the boolean mask of the queries that probe it."""
    Qn = Q / np.where(q_norms == 0, 1.0, q_norms)[:, None]
    top = np.argsort(-(Qn @ cents.T), axis=1)[:, : min(nprobe, len(cents))]
    probe_sets = [set(int(c) for c in row) for row in top]
    probed = sorted({c for s in probe_sets for c in s})
    allowed = {
        c: np.fromiter(
            (c in s for s in probe_sets), dtype=bool, count=len(probe_sets)
        )
        for c in probed
    }
    return probed, allowed


def _assign_clusters(
    M: np.ndarray, cents: np.ndarray, rounded: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """The one nearest-centroid kernel: unit-normalize, one BLAS matmul,
    argmax. Returns the cluster per row and its centroid score.

    ``rounded`` takes the argmax over scores rounded to 6 places (ties
    to the lower cluster index), the reproducible total order of
    ``cluster_embeddings`` and ``semantic_dup_pairs``. IVF keeps the
    unrounded argmax, so stored indexes keep assigning as they were
    built. Normalization is argmax-irrelevant (same positive divisor
    per row) but kept so the batch matmul matches the trainer's
    geometry exactly."""
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    scores = (M / np.where(norms == 0, 1.0, norms)) @ cents.T
    if rounded:
        scores = np.round(scores, 6)
    cl = np.argmax(scores, axis=1)
    return cl.astype(np.int32), scores[np.arange(len(cl)), cl]


def _assign_pass(bc, vec: str, keep, rounded=False, cosine=False, bb=None):
    """``mapInPandas`` body of every nearest-centroid pass: the ``keep``
    columns pass through, ``cluster`` comes from ``_assign_clusters``
    over the broadcast centroids ``bc``, plus the assigned ``cosine``
    (``cosine=True``) or the PQ ``codes`` under broadcast codebooks
    ``bb``."""

    def assign(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = _vec_matrix(pdf[vec])
            cl, best = _assign_clusters(M, cents, rounded)
            out = {c: pdf[c] for c in keep}
            out["cluster"] = cl
            if cosine:
                out["cosine"] = best
            if bb is not None:
                out["codes"] = _encode_pq(M, bb.value)
            yield pd.DataFrame(out)

    return assign


def _row_pair_pass(ids: tuple, vecs: tuple, threshold: float | None = None):
    """``mapInPandas`` body of the row-pair cosine: each row carries
    both vectors (``vecs``); emits the two ``ids`` and the rounded
    ``cosine``, only rows ``>= threshold`` when one is given."""

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            A, B = _vec_matrix(pdf[vecs[0]]), _vec_matrix(pdf[vecs[1]])
            cos = np.round(
                np.einsum("ij,ij->i", A, B)
                / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)),
                6,
            )
            out = pd.DataFrame({ids[0]: pdf[ids[0]], ids[1]: pdf[ids[1]], "cosine": cos})
            yield out if threshold is None else out[out["cosine"] >= threshold]

    return score


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _pack_blocks(narrow: DataFrame, n_sub: Column, *labels: str) -> DataFrame:
    """The block packer of the block-pair cosine: hash each (``__id__``,
    ``__vec__``) row into one of ``n_sub`` sub-blocks (a literal, or a
    per-label column) within its ``labels``, and collect each block's
    rows into one ``items`` list — the unit one matmul task reads."""
    return (
        narrow.withColumn(
            "__blk__", F.pmod(F.xxhash64(F.col("__id__")), n_sub).cast("int")
        )
        .groupBy(*labels, "__blk__")
        .agg(F.collect_list(F.struct("__id__", "__vec__")).alias("items"))
    )


def _block_pair_pass(
    threshold: float, symmetric: bool, id_dtypes: tuple, label: str | None = None
):
    """``mapInPandas`` body of the block-pair threshold matmul: each row
    pairs two packed blocks (``b1``/``items1``, ``b2``/``items2``); one
    BLAS matmul scores them and only pairs with cosine ``>= threshold``
    are emitted. ``symmetric`` (a self-join) emits each unordered pair
    once as ``id1 < id2``; otherwise ``id1`` is the left block's row.
    Ids keep their Spark dtypes (``id_dtypes``), so string ids order
    lexicographically; ``label`` names a column copied onto every
    emitted pair."""
    np_ids = [np.int64 if dt in _INT_TYPES else object for dt in id_dtypes]

    def block(items, id_type):
        ids = np.array([e["__id__"] for e in items], dtype=id_type)
        return ids, _vec_matrix([e["__vec__"] for e in items])

    def emit(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                ids1, M1 = block(row["items1"], np_ids[0])
                ids2, M2 = block(row["items2"], np_ids[1])
                S = _cosine_matrix(M1, M2, np.linalg.norm(M2, axis=1))
                if not symmetric:
                    bi, mj = np.nonzero(S >= threshold)
                    id1, id2 = ids1[bi], ids2[mj]
                elif row["b1"] == row["b2"]:
                    keep = (S >= threshold) & (ids1[:, None] < ids2[None, :])
                    bi, mj = np.nonzero(keep)
                    id1, id2 = ids1[bi], ids2[mj]
                else:
                    bi, mj = np.nonzero(S >= threshold)
                    x, y = ids1[bi], ids2[mj]
                    id1, id2 = np.minimum(x, y), np.maximum(x, y)
                out = {"id1": id1, "id2": id2}
                if label is not None:
                    out[label] = pd.Series([row[label]] * len(id1))
                out["cosine"] = S[bi, mj]
                yield pd.DataFrame(out)

    return emit


def cast_embeddings(table: Table, vec_col: str, dtype: str = "float") -> Table:
    """Cast an embedding column to ``float`` (float32) or ``double``:
    at 100 TB the embedding column dominates corpus scan AND shuffle
    bytes for every sim/dedup operator, and float32 halves both at
    ~1e-7 relative error — invisible at the engine's 6-decimal score
    rounding. All Arrow scoring closures upcast to float64 on entry
    (``_vec_matrix``), so downstream operators accept either dtype
    transparently; persist the cast table with ``parquet_export`` to
    bank the savings at the scan."""
    dtype = {"float64": "double", "float32": "float"}.get(dtype, dtype)
    if dtype not in ("double", "float"):
        raise ValueError(
            f"dtype must be double|float (or float64|float32), got {dtype!r}"
        )
    out = table._require_df().withColumn(
        vec_col, F.col(vec_col).cast(f"array<{dtype}>")
    )
    return table._derive(out)


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return dot / (na * nb)


def cosine_topk(
    corpus: Table,
    queries: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    max_queries: int = MAX_QUERY_VECTORS,
) -> Table:
    """Exact top-k neighbors per query vector (brute force baseline).

    The query side is collected/broadcast (bounded by ``max_queries`` —
    a clear error beats a silent driver OOM); the corpus streams through
    the shared top-k kernel (``_topk_search``): one BLAS matmul per Arrow
    batch, only its local top-k per query emitted, and one window merges
    the per-batch candidates (decomposable top-k, so the shuffle carries
    ≤ k·batches rows per query instead of the full N·Q score matrix).
    """
    q_ids, Q, q_norms = _query_matrix(
        queries, query_id_col or id_col, vec_col, max_queries
    )
    if not len(q_ids):
        return _empty_topk(corpus.spark, "cosine_topk")
    cdf = corpus.df.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    out = _topk_search(cdf, q_ids, partial(_cosine_scores, Q=Q, q_norms=q_norms), k)
    return Table.from_df(out, name="cosine_topk")


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_signature(vec_col: Column | str, planes: np.ndarray) -> Column:
    """Random-hyperplane signature: one sign bit per plane, as a string
    bucket key. Narrow projection, JVM-evaluated.

    Pass the vector column NAME (string) where possible: the whole
    signature then parses as ONE SQL expression — a single py4j round
    trip. Building it from Column objects costs one py4j call per plane
    literal (n_planes × dim of them), which measurably dominates
    plan-construction time (~0.7s at 6×64 planes, more than the query's
    own execution). Fold order (left aggregate, 0.0 seed) is identical
    on both paths and matches the DuckDB oracle's list_dot_product.
    """
    if isinstance(vec_col, str):
        parts = []
        for row in planes:
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
            dot = (
                f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), "
                "0.0D, (acc, v) -> acc + v)"
            )
            parts.append(f"if({dot} >= 0, '1', '0')")
        return F.expr("concat(" + ", ".join(parts) + ")")
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(float(x)) for x in row])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _train_centroids(
    X: np.ndarray,
    nlist: int,
    seed: int,
    iters: int = 10,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means (cosine geometry) on a driver-side sample.

    Lloyd iterations over unit vectors; empty clusters are re-seeded from
    the sample so every list stays live. Deterministic for a fixed seed.
    ``init`` (unit rows) pins the starting centroids instead of the
    seeded random draw — the deterministic-initialization path
    ``cluster_embeddings`` exposes for oracle checking.
    """
    rng = np.random.RandomState(seed)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(norms == 0, 1.0, norms)
    if init is not None:
        centroids = init.copy()
        nlist = len(centroids)
    else:
        nlist = min(nlist, len(Xn))
        centroids = Xn[rng.choice(len(Xn), nlist, replace=False)]
    for _ in range(iters):
        assign = np.argmax(Xn @ centroids.T, axis=1)
        for c in range(nlist):
            members = Xn[assign == c]
            if len(members) == 0:
                centroids[c] = Xn[rng.randint(len(Xn))]
                continue
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            centroids[c] = m / (n if n else 1.0)
    return centroids


def _training_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_size: int
) -> tuple[np.ndarray, list]:
    """Deterministic *hash-ordered* quantizer training sample.

    Ordering by ``md5(id)`` instead of id decorrelates the sample from
    id assignment: sharded corpora commonly write correlated content
    under contiguous id ranges, so an id-prefix sample would train the
    quantizer on one shard's distribution. The plan is still a
    TakeOrderedAndProject (per-partition top-k by hash, k-row driver
    merge) — no full sort, no extra shuffle — and the result is
    deterministic and re-shard-stable like sampling.py's hash_bucket.
    """
    rows = (
        df.select(
            F.col(id_col).alias("__sid__"),
            F.col(vec_col).cast("array<double>").alias("__svec__"),
        )
        .orderBy(F.md5(F.col("__sid__").cast("string")), F.col("__sid__"))
        .limit(sample_size)
        .collect()
    )
    ids = [r["__sid__"] for r in rows]
    return np.array([list(r["__svec__"]) for r in rows], dtype=np.float64), ids


def _train_pq_codebooks(
    X: np.ndarray, m: int, ksub: int = 256, seed: int = 42, iters: int = 10
) -> np.ndarray:
    """Product-quantization codebooks: split the dim into ``m`` equal
    subspaces and run plain (Euclidean) Lloyd k-means with ``ksub``
    centers in each — Jegou et al. 2011, "Product Quantization for
    Nearest Neighbor Search" (public). Deterministic for a fixed seed;
    empty clusters re-seed from the sample. Returns (m, ksub, dsub)."""
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"pq_m={m} must divide the embedding dim {dim}")
    if ksub > 256:
        # codes pack one byte per subspace (_encode_pq astype(np.uint8));
        # a larger ksub would silently wrap codes and corrupt the index
        raise ValueError(f"pq_ksub={ksub} exceeds 256 (codes are one byte)")
    dsub = dim // m
    ksub = min(ksub, n)
    rng = np.random.RandomState(seed)
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cents = Xs[rng.choice(n, ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = Xs[assign == c]
                cents[c] = members.mean(axis=0) if len(members) else Xs[rng.randint(n)]
        books[s] = cents
    return books


def _encode_pq(vec_series, books: np.ndarray) -> list[bytes]:
    """Nearest-center code per subspace, packed as one byte each —
    the 8x-64x storage cut (dim x float64 -> m bytes) that makes a
    100 TB corpus's index NOT itself corpus-sized."""
    M = _vec_matrix(vec_series)
    m, ksub, dsub = books.shape
    codes = np.zeros((len(M), m), dtype=np.uint8)
    for s in range(m):
        Xs = M[:, s * dsub : (s + 1) * dsub]
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 is argmin-constant
        d = -2.0 * (Xs @ books[s].T) + (books[s] ** 2).sum(axis=1)[None, :]
        codes[:, s] = np.argmin(d, axis=1).astype(np.uint8)
    return [c.tobytes() for c in codes]


def ivf_topk(
    corpus: Table,
    queries: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    sample_size: int = 4096,
    seed: int = 42,
    max_queries: int = MAX_QUERY_VECTORS,
    against_index: Table | None = None,
    rerank: int | None = None,
) -> Table:
    """IVF approximate top-k: k-means coarse quantizer, probe-limited scan.

    Without ``against_index``, the corpus is indexed in memory by
    ``ivf_index_table`` (``nlist`` spherical-k-means centroids trained
    on a driver-side sample, every vector assigned to its nearest
    centroid in one Arrow pass, no shuffle), and each query probes only
    its ``nprobe`` closest lists through a per-query probe-cluster mask.
    Exact re-rank inside the probed lists. With ``nprobe == nlist`` this
    degenerates to the exact brute-force result.

    ``against_index`` skips training AND corpus assignment entirely,
    searching a stored ``ivf_index_table`` instead (``corpus`` then only
    supplies the session): the train-once-search-forever deployment. The
    probed cluster ids are known on the driver before any job runs, so
    the index scan carries a static ``cluster IN (...)`` predicate — an
    index persisted with ``df.write.partitionBy("cluster")`` is read at
    ~nprobe/nlist of its files via partition pruning, which is the whole
    point of IVF at 100 TB: repeated queries never rescan the corpus,
    and never even read most of the index.

    Scale path: assignment is embarrassingly parallel; re-rank streams
    the probed lists once through an Arrow pass with the (bounded)
    query matrix in the closure — one BLAS matmul per batch, per-query
    probe-cluster mask, local top-k per batch — so the shuffle carries
    ≤ k·batches rows per query and no dense vector ever moves through
    a join. Scored volume is ~N·nprobe/nlist rows per query instead
    of N.
    """
    qid = query_id_col or id_col
    if against_index is not None and "codes" in against_index.fields:
        # product-quantized layout: ADC candidates + exact re-rank
        # (rerank= bounds the exact phase; see _pq_search)
        return _pq_search(
            corpus, queries, id_col, vec_col, qid, k, nprobe,
            max_queries, against_index, rerank,
        )
    if against_index is None:
        # self mode searches an in-memory index: the same trainer and
        # the same assignment pass as a stored one, so the two can
        # never disagree bit-for-bit. Assignment stays an Arrow/BLAS
        # pass DELIBERATELY: a native-JVM fold (dot array as one F.expr
        # of nlist x dim literals, argmax via array_position(array_max),
        # the lsh_signature trick) was built and A/B-measured (round
        # 6): 2.46s vs 1.79s end-to-end at sf0.1 — nlist*dim (~1024)
        # interpreted multiply-adds per row lose to one numpy matmul by
        # far more than the Arrow round-trip costs.
        against_index = ivf_index_table(
            corpus, id_col, vec_col, nlist=nlist, sample_size=sample_size,
            seed=seed,
        )
    centroids, cdf = _load_ivf_index(against_index)

    # probe-list fan-out happens on the driver; bounded like cosine_topk
    q_ids, Q, q_norms = _query_matrix(queries, qid, vec_col, max_queries)
    if not len(q_ids):
        return _empty_topk(corpus.spark, "ivf_topk")
    # the probed cluster set is known driver-side: a static IN filter
    # lets a cluster-partitioned stored index prune unprobed partitions
    # at the scan before any scoring happens
    probed, allowed = _probe_plan(Q, q_norms, centroids, nprobe)
    cdf = cdf.where(F.col("cluster").isin(probed))

    # re-rank through cosine_topk's kernel (_topk_search) with the
    # probe mask — queries in the broadcast, one BLAS matmul per Arrow
    # batch, local top-k per batch — instead of a broadcast pair join that
    # carries BOTH dense vectors per candidate through a second Arrow
    # pass. A/B round 7 at sf0.1 (nprobe == nlist, 5 queries x ~60k
    # corpus): search 2.96s -> ~0.9s warm with bit-identical output;
    # the shuffle now carries <= k x batches rows per query, never the
    # candidate score matrix.
    out = _topk_search(
        cdf.select("corpus_id", "cvec", "cluster"),
        q_ids,
        partial(_cosine_scores, Q=Q, q_norms=q_norms),
        k,
        allowed,
    )
    return Table.from_df(out, name="ivf_topk")


_IVF_INDEX_COLS = ("cluster", "corpus_id", "cvec", "centroid")


def ivf_index_table(
    corpus: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    train_iters: int = 10,
    sample_size: int = 4096,
    seed: int = 42,
    init_ids: list | None = None,
    centroids=None,
    pq_m: int | None = None,
    pq_ksub: int = 256,
    pq_iters: int = 10,
    pq_codebooks=None,
    vec_dtype: str = "double",
) -> Table:
    """Build the durable IVF index ``ivf_topk(against_index=)`` searches:
    one row per corpus vector (``cluster``, ``corpus_id``, ``cvec``) plus
    ``nlist`` model rows carrying the centroid vectors (``corpus_id IS
    NULL``, ``centroid``) — the same self-describing one-table layout as
    ``term_stats_table``'s corpus-scalar row, so a single parquet asset
    persists both the model and the assignment.

    Training matches ``ivf_topk``'s self-mode exactly for the same
    (``nlist``, ``sample_size``, ``seed``): hash-ordered driver sample,
    spherical k-means. ``init_ids``/``train_iters=0`` give the
    deterministic, SQL-expressible model (the ``cluster_embeddings``
    oracle path); ``centroids`` freezes a pretrained model — batch N+1
    is then indexed by ``extend_ivf_index`` with zero training jobs.

    Persist with ``.df.write.partitionBy("cluster")``: ``ivf_topk``'s
    static probe-cluster predicate then prunes unprobed partitions at
    the scan, reading ~nprobe/nlist of the index.

    ``pq_m`` switches to the PRODUCT-QUANTIZED layout: instead of the
    full ``cvec``, each corpus row stores an m-byte PQ code (per-
    subspace nearest-center ids), and the model rows additionally carry
    the ``(pq_sub, pq_code, pq_center)`` codebooks. At dim=1024 float64
    that is a 1024x storage cut per vector (8 KB -> m bytes) — the fix
    for the index itself being corpus-sized at 100 TB. Search over a PQ
    index (``ivf_topk(against_index=)`` auto-detects the layout) scores
    candidates by asymmetric-distance lookup tables and then re-ranks
    the top ``rerank`` per query against the EXACT vectors fetched from
    the corpus table. Codebooks train on the same hash-ordered driver
    sample as the coarse quantizer; ``pq_codebooks`` freezes a
    pretrained model for ``extend_ivf_index``.

    ``vec_dtype="float"`` stores the plain layout's assignment vectors
    as float32 — half the scan/shuffle bytes at ~1e-7 relative error
    (invisible at the engine's 6-decimal score rounding; scoring
    upcasts to float64). ``extend_ivf_index`` preserves the stored
    dtype. The middle ground between the full-precision index and PQ.
    """
    vec_dtype = {"float64": "double", "float32": "float"}.get(
        vec_dtype, vec_dtype
    )
    if vec_dtype not in ("double", "float"):
        raise ValueError(
            f"vec_dtype must be double|float (or float64|float32), "
            f"got {vec_dtype!r}"
        )
    if pq_m is not None and pq_ksub > 256:
        raise ValueError(f"pq_ksub={pq_ksub} exceeds 256 (codes are one byte)")
    if pq_codebooks is not None and np.asarray(pq_codebooks).shape[1] > 256:
        raise ValueError(
            "pq_codebooks has more than 256 centers per subspace "
            "(codes are one byte)"
        )
    # one shared hash-ordered sample feeds BOTH the coarse quantizer
    # and the PQ codebooks — the second TakeOrdered collect was ~40%
    # of a pq_m build's driver time
    sample = None
    needs_pq_train = pq_codebooks is None and pq_m is not None
    if (centroids is None or needs_pq_train):
        sample, _ = _training_sample(
            corpus._require_df(), id_col, vec_col, sample_size
        )
    cents = resolve_centroids(
        corpus, id_col, vec_col, nlist, train_iters, sample_size, seed,
        init_ids, centroids, sample=sample,
    )
    books = None
    if pq_codebooks is not None:
        books = np.asarray(pq_codebooks, dtype=np.float64)
    elif pq_m is not None:
        books = _train_pq_codebooks(sample, pq_m, pq_ksub, seed, pq_iters)
    bc = corpus.spark.sparkContext.broadcast(cents)
    narrow = corpus.df.select(
        F.col(id_col).cast("long").alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )

    if books is not None:
        bb = corpus.spark.sparkContext.broadcast(books)
        schema = (
            "cluster int, corpus_id long, codes binary, "
            "centroid array<double>, pq_sub int, pq_code int, "
            "pq_center array<double>"
        )
        assigned = (
            narrow.mapInPandas(
                _assign_pass(bc, "cvec", ("corpus_id",), bb=bb),
                "cluster int, corpus_id long, codes binary",
            )
            .withColumn("centroid", F.lit(None).cast("array<double>"))
            .withColumn("pq_sub", F.lit(None).cast("int"))
            .withColumn("pq_code", F.lit(None).cast("int"))
            .withColumn("pq_center", F.lit(None).cast("array<double>"))
        )
        model_rows = [
            (int(i), None, None, [float(x) for x in c], None, None, None)
            for i, c in enumerate(cents)
        ] + [
            (None, None, None, None, int(s), int(c), [float(x) for x in books[s, c]])
            for s in range(books.shape[0])
            for c in range(books.shape[1])
        ]
        model = small_df(corpus.spark, model_rows, schema)
        out = Table.from_df(
            assigned.unionByName(model), name=f"{corpus.table_name}_ivf_pq_index"
        )
        out._ivf_model = cents
        out._pq_model = books
        return out

    # vec_dtype="float" stores the assignment vectors at half the bytes
    # (the index's dominant term at corpus scale); centroids stay
    # double — nlist rows, and probe math wants the model's precision.
    # Scoring upcasts to float64 (see _vec_matrix), so only the stored
    # values are truncated (~1e-7 relative — scores round to 6dp).
    schema = (
        f"cluster int, corpus_id long, cvec array<{vec_dtype}>, "
        "centroid array<double>"
    )
    assigned = narrow.mapInPandas(
        _assign_pass(bc, "cvec", ("corpus_id", "cvec")),
        f"cluster int, corpus_id long, cvec array<{vec_dtype}>",
    ).withColumn("centroid", F.lit(None).cast("array<double>"))
    model = small_df(
        corpus.spark,
        [(int(i), None, None, [float(x) for x in c]) for i, c in enumerate(cents)],
        schema,
    )
    out = Table.from_df(
        assigned.unionByName(model), name=f"{corpus.table_name}_ivf_index"
    )
    # driver-side model cache: consumers (extend_ivf_index, ivf_topk)
    # read the centroids from here instead of collecting the model rows
    # back out of the df — which, for an index not yet persisted to
    # parquet, would re-run the whole assignment Arrow pass just to
    # fish out nlist rows. Parquet round-trips drop the attribute and
    # fall back to the (then cheap, column-pruned) collect.
    out._ivf_model = cents
    return out


def _load_centroids(index: Table) -> np.ndarray:
    """Centroid model of an ivf_index_table (plain or PQ layout):
    driver cache when available, else one column-pruned collect over
    the nlist model rows."""
    cached = getattr(index, "_ivf_model", None)
    if cached is not None:
        return np.asarray(cached, dtype=np.float64)
    model = (
        index.df.where(
            F.col("corpus_id").isNull() & F.col("centroid").isNotNull()
        )
        .select("cluster", "centroid")
        .collect()
    )
    if not model:
        raise ValueError(
            "against_index has no centroid model rows (corpus_id IS NULL); "
            "build it with ivf_index_table()"
        )
    by_cluster = {r["cluster"]: list(r["centroid"]) for r in model}
    return np.array(
        [by_cluster[c] for c in sorted(by_cluster)], dtype=np.float64
    )


def _load_ivf_index(index: Table) -> tuple[np.ndarray, DataFrame]:
    """Split an ``ivf_index_table`` into its centroid model (driver-side
    (nlist × dim) matrix — one collect over nlist rows) and its
    assignment DataFrame. Validates the two-row-kind layout."""
    missing = [c for c in _IVF_INDEX_COLS if c not in index.fields]
    if missing:
        raise ValueError(
            f"against_index is not an ivf_index_table (missing {missing}); "
            "build one with ivf_index_table()"
        )
    cents = _load_centroids(index)
    cdf = index.df.where(F.col("corpus_id").isNotNull()).select(
        "corpus_id", "cvec", "cluster"
    )
    return cents, cdf


def _load_pq_index(index: Table) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Split a PQ ``ivf_index_table`` into (centroids, codebooks,
    code-assignment DataFrame). Codebooks come from the driver cache
    when the index was built this session, else from one column-pruned
    collect over the (m × ksub) codebook rows."""
    missing = [
        c
        for c in ("cluster", "corpus_id", "codes", "centroid", "pq_sub", "pq_code", "pq_center")
        if c not in index.fields
    ]
    if missing:
        raise ValueError(
            f"against_index is not a PQ ivf_index_table (missing {missing}); "
            "build one with ivf_index_table(pq_m=)"
        )
    cents = _load_centroids(index)
    books = getattr(index, "_pq_model", None)
    if books is None:
        rows = (
            index.df.where(F.col("pq_sub").isNotNull())
            .select("pq_sub", "pq_code", "pq_center")
            .collect()
        )
        if not rows:
            raise ValueError(
                "against_index has a 'codes' column but no codebook rows "
                "(pq_sub IS NOT NULL); build it with ivf_index_table(pq_m=)"
            )
        # keyed dict: batch-partitioned assets (streaming ingest) repeat
        # the identical model rows once per batch partition — collapse
        # them like _load_centroids does for the coarse model
        by_key = {
            (r["pq_sub"], r["pq_code"]): list(r["pq_center"]) for r in rows
        }
        m = max(s for s, _ in by_key) + 1
        ksub = max(c for _, c in by_key) + 1
        dsub = len(next(iter(by_key.values())))
        books = np.zeros((m, ksub, dsub), dtype=np.float64)
        for (s, c), center in by_key.items():
            books[s, c] = center
        if len(by_key) != m * ksub:
            raise ValueError(
                f"PQ codebook rows incomplete: {len(by_key)} of {m * ksub}"
            )
    cdf = index.df.where(F.col("corpus_id").isNotNull()).select(
        "corpus_id", "codes", "cluster"
    )
    return cents, np.asarray(books, dtype=np.float64), cdf


def _pq_search(
    corpus: Table,
    queries: Table,
    id_col: str,
    vec_col: str,
    qid: str,
    k: int,
    nprobe: int,
    max_queries: int,
    index: Table,
    rerank: int | None,
) -> Table:
    """Search a product-quantized IVF index: ADC candidate generation
    over the m-byte codes, then EXACT re-rank of the top ``rerank``
    candidates per query against the corpus vectors fetched by id.

    Scale shape: the probed index scan reads codes (m bytes/row), not
    vectors; scoring is per-batch lookup-table sums (one (nq × ksub)
    table per subspace, built driver-side from the query matrix). The
    exact phase touches only ``rerank × n_queries`` corpus rows via a
    broadcast join of the (small) candidate list — the corpus is
    scanned once with every non-candidate row dropped at the join, and
    the dense vectors of non-candidates never move. With
    ``nprobe == nlist`` and ``rerank >= |corpus|`` the result is
    provably the exact brute-force top-k (the oracle contract)."""
    cents, books, cdf = _load_pq_index(index)
    q_ids, Q, q_norms = _query_matrix(queries, qid, vec_col, max_queries)
    spark = corpus.spark
    if not len(q_ids):
        return _empty_topk(spark, "ivf_pq_topk")
    R = max(int(rerank), k) if rerank is not None else max(8 * k, 64)
    probed, allowed = _probe_plan(Q, q_norms, cents, nprobe)
    cdf = cdf.where(F.col("cluster").isin(probed))

    # ADC tables: LUT[s][qi][code] = dot(q_sub, center);
    # code_norm2[s][code] = |center|^2 (for the reconstructed |v|)
    m, ksub, dsub = books.shape
    lut = np.stack(
        [Q[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)]
    )  # (m, nq, ksub)
    code_norm2 = (books**2).sum(axis=2)  # (m, ksub)
    cand = _topk_search(
        cdf.select("corpus_id", "codes", "cluster"),
        q_ids,
        partial(_adc_scores, lut=lut, code_norm2=code_norm2, q_norms=q_norms),
        R,
        allowed,
        score_col="ascore",
        rank_col="__r__",
    ).select("query_id", "corpus_id")

    # exact re-rank: fetch the candidates' TRUE vectors from the corpus
    # via a broadcast join (candidate list is <= R x n_queries rows) —
    # non-candidate vectors never leave the scan
    cvecs = corpus.df.select(
        F.col(id_col).cast("long").alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("__cv__"),
    )
    joined = cvecs.join(F.broadcast(cand), "corpus_id")
    bq = spark.sparkContext.broadcast((q_ids, Q, q_norms))

    def exact_batches(batches):
        import pandas as pd

        q_ids_, Q_, q_norms_ = bq.value
        pos = {int(v): i for i, v in enumerate(q_ids_)}
        for pdf in batches:
            if pdf.empty:
                continue
            # the top-k scorer's matmul, so the rounded score is
            # bit-identical to the non-PQ paths; each row keeps the
            # column of the query it is a candidate for
            S = _cosine_matrix(_vec_matrix(pdf["__cv__"]), Q_, q_norms_)
            qidx = pdf["query_id"].map(pos).to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "corpus_id": pdf["corpus_id"],
                    "cosine": S[np.arange(len(S)), qidx],
                }
            )

    scored = joined.mapInPandas(
        exact_batches, "query_id long, corpus_id long, cosine double"
    )
    return Table.from_df(_rank_per_query(scored, k), name="ivf_pq_topk")


def extend_ivf_index(
    index: Table,
    batch: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Table:
    """Index a new batch against a stored IVF index's FROZEN centroid
    model and return the extended index (original rows + the batch's
    assignment rows). No training jobs, no rescan of already-indexed
    vectors — the nightly-ingest shape: per-batch cost is one Arrow
    assignment pass over the batch alone. PQ indexes extend the same
    way: the frozen codebooks encode the batch, nothing retrains."""
    if "codes" in index.fields:
        cents, books, _ = _load_pq_index(index)
        fresh = ivf_index_table(
            batch, id_col, vec_col, centroids=cents, pq_codebooks=books
        ).df.where(F.col("corpus_id").isNotNull())
        out = Table.from_df(index.df.unionByName(fresh), name=index.table_name)
        out._ivf_model = cents
        out._pq_model = books
        return out
    cents, _ = _load_ivf_index(index)
    # new rows inherit the index's stored vector dtype (a float32 index
    # stays float32 across every nightly extend)
    vd = dict(index._require_df().dtypes)["cvec"].removeprefix("array<").removesuffix(">")
    fresh = ivf_index_table(
        batch, id_col, vec_col, centroids=cents, vec_dtype=vd
    ).df.where(F.col("corpus_id").isNotNull())
    out = Table.from_df(
        index.df.unionByName(fresh), name=index.table_name
    )
    out._ivf_model = cents  # frozen model rides along (see ivf_index_table)
    return out


def lsh_topk(
    corpus: Table,
    queries: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> Table:
    """Approximate top-k: exact re-rank within matching LSH bucket only.

    The scan is replaced by an equi-join on the signature — at corpus
    scale this is the difference between O(Q·N) and O(Q·N/2^planes).

    Signatures are built with the native JVM ``lsh_signature`` fold
    (whole-stage codegen, same expression the dedup path uses — measured
    ~1.7× over the Arrow round-trip); Python/Arrow is reserved for the
    re-rank after the candidate join, the row-pair cosine kernel
    (``_row_pair_pass``) that ``embedding_lsh_dup_pairs(use_arrow=True)``
    also runs.
    """
    planes = _planes(dim, n_planes, seed)

    cdf = corpus.df.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("sig", lsh_signature("cvec", planes))
    qdf = queries.df.select(
        F.col(query_id_col or id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("sig", lsh_signature("qvec", planes))
    candidates = cdf.join(F.broadcast(qdf), on="sig").filter(
        F.col("query_id") != F.col("corpus_id")
    )

    scored = candidates.mapInPandas(
        _row_pair_pass(("query_id", "corpus_id"), ("cvec", "qvec")),
        "query_id long, corpus_id long, cosine double",
    )
    return Table.from_df(_rank_per_query(scored, k), name="lsh_topk")


def cluster_embeddings(
    table: Table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    train_iters: int = 10,
    sample_size: int = 4096,
    seed: int = 42,
    init_ids: list | None = None,
    centroids=None,
) -> Table:
    """Assign every vector to one of ``k`` spherical-k-means clusters —
    the coarse partitioning step of semantic curation (SemDeDup-style
    dedup, diversity-aware sampling, per-topic quotas). Net-new over the
    reference: littletable has no embedding operations at all.

    Returns a Table of (``id_col``, ``cluster`` int, ``cosine`` double) —
    the cosine to the assigned centroid, rounded to 6 places. Assignment
    argmax is computed on the ROUNDED scores with ties broken toward the
    lower cluster index, so the result is reproducible across engines
    (the same total-order discipline as the top-k rankers here).

    Training is driver-side on a bounded md5-hash-ordered sample (the
    de-correlated ``_training_sample``), like ``ivf_topk``'s quantizer:
    at 100 TB the model is tiny (k × dim doubles) and only the
    ASSIGNMENT pass must be distributed — one broadcast of the centroid
    matrix plus one Arrow/BLAS scan, no shuffle. Dense centroid scoring
    deliberately stays numpy (see ivf_topk's in-code A/B note: a native
    JVM fold measured slower at k·dim ≈ 1024 multiply-adds per row).

    ``init_ids`` pins the initial centroids to the embeddings of those
    ids (in list order, unit-normalized). With ``train_iters=0`` the
    operator degenerates to nearest-of-the-given-vectors — fully
    SQL-expressible, which is how the driver gate oracle-checks the
    full distributed assignment machinery; Lloyd refinement is covered
    by differential unit tests against a numpy model (the ivf_topk
    pattern: degenerate-exact in the gate, approximate paths unit-tested).

    ``centroids`` short-circuits training entirely with a pretrained
    (k × dim) model (rows are unit-normalized here): the
    train-once-assign-forever deployment — batch N+1 or a readStream
    ingest labels arrivals against the frozen model with no driver
    jobs at all.
    """
    centroids = resolve_centroids(
        table, id_col, vec_col, k, train_iters, sample_size, seed, init_ids,
        centroids,
    )
    bc = table.spark.sparkContext.broadcast(centroids)
    df = table._require_df()
    id_dtype = dict(df.dtypes)[id_col]
    out = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias("__vec__")
    ).mapInPandas(
        _assign_pass(bc, "__vec__", (id_col,), rounded=True, cosine=True),
        f"{id_col} {id_dtype}, cluster int, cosine double",
    )
    return Table.from_df(out, name=f"{table.table_name}_clusters")


def resolve_centroids(
    table: Table,
    id_col: str,
    vec_col: str,
    k: int,
    train_iters: int,
    sample_size: int,
    seed: int,
    init_ids: list | None,
    centroids=None,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Driver-side centroid model shared by ``cluster_embeddings`` and
    ``semantic_dup_pairs``: pinned ``init_ids`` rows (unit-normalized,
    optionally Lloyd-refined on the hash-ordered sample) or a seeded
    spherical-k-means fit. Returns the (k × dim) unit-row matrix — the
    only state the distributed assignment pass needs (broadcast-sized:
    k·dim doubles). An explicit ``centroids`` matrix (a pretrained
    model) bypasses everything except unit normalization."""
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        return C / np.where(norms == 0, 1.0, norms)
    df = table._require_df()
    if init_ids is not None:
        rows = (
            df.where(F.col(id_col).isin(list(init_ids)))
            .select(id_col, F.col(vec_col).cast("array<double>"))
            .collect()
        )
        by_id = {r[0]: list(r[1]) for r in rows}
        missing = [i for i in init_ids if i not in by_id]
        if missing:
            raise ValueError(f"init_ids not found in {id_col}: {missing}")
        C0 = np.array([by_id[i] for i in init_ids], dtype=np.float64)
        norms = np.linalg.norm(C0, axis=1, keepdims=True)
        C0 = C0 / np.where(norms == 0, 1.0, norms)
        if train_iters > 0:
            if sample is None:
                sample, _ = _training_sample(df, id_col, vec_col, sample_size)
            return _train_centroids(
                sample, len(C0), seed, iters=train_iters, init=C0
            )
        return C0
    if sample is None:
        sample, _ = _training_sample(df, id_col, vec_col, sample_size)
    return _train_centroids(sample, k, seed, iters=train_iters)
