"""Deduplication operators for large-scale corpus curation.

Net-new over the reference (north-star requirement): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, and embedding-cosine
near-dup, each as a composable DataFrame plan.

Scale design (100 TB):
- shingling/minhashing are *narrow* higher-order-function projections
  (no explode, no shuffle) — each row computes its own sketch in
  whole-stage codegen;
- LSH banding is the only widening step: explode to (band_key, id) then
  a self-equi-join per bucket — the classic shuffle-once candidate
  generation; hot buckets are bounded by band width choice and AQE skew
  handling;
- exact pairwise Jaccard/cosine exist as the small-N verification path;
  candidate generation at scale always goes through LSH first.
- hashes are md5-based (not Spark's murmur3) so results are engine-
  portable and oracle-checkable in DuckDB.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scoped_persist, small_df
from ..table import Table

# Self-join pair generators consume their signature/shingle intermediate
# 2-4x; without an explicit persist Spark re-runs the whole shuffled +
# windowed pipeline per consumer (no ReusedExchange across AQE stages).
# MEMORY_AND_DISK: spills instead of failing when the intermediate
# outgrows executor memory at scale; LRU-evicted when pressure demands.
_PAIRGEN_CACHE = StorageLevel.MEMORY_AND_DISK

# ngram_jaccard_pairs adaptive-path decisions, keyed on
# (df.semanticHash(), id_col, text_col, n). The decision statistic is a
# full aggregation job over the shingle table; it picks a *plan shape*,
# never affects results (both paths are exact), so caching it per
# semantically identical input is safe — repeated calls on the same
# table (the common production pattern, and the bench steady state)
# skip the job entirely. Bounded FIFO (semanticHash tracks plan shape,
# not data: a long-lived driver over mutating sources must not
# accumulate stale decisions without bound — callers on such sources
# should pass prefix_filter explicitly).
_ADAPTIVE_DECISIONS: "dict[tuple[int, str, str, int], bool]" = {}
_ADAPTIVE_DECISIONS_MAX = 256

TOKENIZE = r"\s+"


def _tokens(text_col) -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.trim(col), TOKENIZE), lambda x: x != F.lit(""))


def _shingles(text_col: str, n: int) -> Column:
    """Distinct word n-gram shingles as an array column (no shuffle).

    One-off use only: the tokenizer expression sits INSIDE the window
    lambda, so the interpreted evaluator re-runs the regex split once
    per window (measured ~8x slowdown on a corpus scan). Hot paths must
    either use ``_shingle_rows`` (linear, codegen) or materialize the
    token array as a real column first and slice that (see
    ``textops.repetition_score``).
    """
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows — the shuffled linear-time form.

    posexplode tokens once, then build each n-gram with window ``lead``:
    O(len) per doc, one shuffle keyed on the doc id, everything
    codegen'd. The shuffle is the right trade when the shingles feed a
    per-doc aggregation anyway (minhash, winnowing min) — the exchange
    is shared. For a pure shingle *stream* with no per-doc aggregation,
    prefer textops._ngram_rows (shuffle-free transform+slice, O(len·n)
    for fixed small n). Either way, never reference the tokenizer
    expression inside a per-position lambda — that re-runs the regex
    split per window (O(len²) regex work, measured 10×; see
    repetition_score). Shingles are emitted with multiplicity; add
    ``.distinct()`` when set semantics are needed. Matches ``_shingles``
    exactly, including the short-document case (len < n -> one shingle
    of all tokens).
    """
    pieces = _shingle_exprs(id_col, text_col, n)
    out = (
        df.select(*pieces["toks"])
        .withColumn("__len__", pieces["len"])
        .withColumn("s", pieces["s"])  # concat_ws skips nulls
        .filter(pieces["keep"])
        .select(F.col(id_col), F.col("s"))
    )
    return out


@lru_cache(maxsize=128)
def _shingle_exprs(id_col: str, text_col: str, n: int):
    """The input-independent Column trees of ``_shingle_rows``, built
    once per shape. Every ``F.*`` call is a py4j round trip, and the
    shingle pipeline builds dozens — ~0.25 s of pure driver time per
    ``_band_table_df`` call (measured), paid per ingest micro-batch.
    Expression trees are immutable and reference column NAMES, so the
    same objects compose into any DataFrame's plan; memoizing them cuts
    the per-call construction to the df method chain alone (guide §1.2,
    driver-side edition)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, n)]
    return {
        "toks": (
            F.col(id_col),
            F.posexplode(_tokens(text_col)).alias("p", "t"),
        ),
        "len": F.count(F.lit(1)).over(Window.partitionBy(id_col)),
        "s": F.concat_ws(" ", *parts),
        "keep": (
            (F.col("p") <= F.col("__len__") - F.lit(n))
            | ((F.col("p") == 0) & (F.col("__len__") < F.lit(n)))
        ),
    }


def _ngram_rows(
    df, id_col: str, text_col: str, n: int, keep_cols=(), per_doc_distinct=False
):
    """(id, n-gram) rows with NO shuffle: tokenize once into a column,
    then ``transform`` + ``slice`` per start position — O(len·n) per doc
    for fixed small n, all codegen, inherits the input partitioning.
    (``_shingle_rows`` pays one shuffle for its window-``lead`` form;
    that wins when n-gram construction must feed a per-doc aggregation
    whose exchange it can share, but a pure shingle *stream* — the
    corpus side of a contamination scan, or a self-join input that gets
    re-shuffled on the shingle anyway — should stay narrow.) Matches
    ``_shingle_rows`` semantics incl. the short-doc case (len < n ->
    one shingle of all tokens; empty docs -> no rows). ``keep_cols``
    carries extra per-doc columns through the explode (computed once
    per doc row, copied per gram) so a downstream per-doc aggregation
    can key on them instead of paying a join back to the doc table.
    ``per_doc_distinct`` dedupes each doc's grams IN-ROW
    (``array_distinct``) — identical rows to ``.distinct()`` over
    (id, s) when ids are unique, without the corpus-wide exchange."""
    toked_cols, gram_col = _ngram_exprs(
        id_col, text_col, n, tuple(keep_cols), per_doc_distinct
    )
    toked = df.select(*toked_cols).where(F.size("__tk__") > 0)
    # plain names pass through as strings — one py4j call for the select
    return toked.select(id_col, *keep_cols, gram_col)


@lru_cache(maxsize=64)
def _ngram_exprs(
    id_col: str, text_col: str, n: int, keep_cols: tuple, per_doc_distinct: bool
):
    """``_ngram_rows``' input-independent Column trees, built once per
    shape (see ``_shingle_exprs`` — this builder feeds contamination,
    span, fingerprint AND jaccard paths, so the py4j construction cost
    was paid several times per bench pass)."""
    keep = [F.col(c) for c in keep_cols]
    toked_cols = (F.col(id_col), *keep, _tokens(text_col).alias("__tk__"))
    tk = F.col("__tk__")
    grams = F.when(
        F.size(tk) < n, F.array(F.array_join(tk, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(tk, i, n), " "),
        )
    )
    if per_doc_distinct:
        grams = F.array_distinct(grams)
    return toked_cols, F.explode(grams).alias("s")


def exact_dedup(table: Table, key_cols: list[str], id_col: str) -> Table:
    """Keep one representative (min id) per exact key — hash groupBy."""
    df = table.df
    out = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return Table.from_df(out.select(id_col, *key_cols), name=f"{table.table_name}_dedup")


def fingerprint_dedup(table: Table, text_col: str, id_col: str) -> Table:
    """Dedup on a normalized content fingerprint (md5 of lowercased,
    whitespace-collapsed text) — catches trivial reformattings."""
    df = table.df
    # equivalent to md5(join(lower(tokens), ' ')) but pure native string
    # ops — no interpreted array transform in the row path
    fp = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    )
    out = (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )
    return Table.from_df(out, name=f"{table.table_name}_fp_dedup")


def minhash_signature(
    text_col: str, n: int = 3, num_hashes: int = 8
) -> list[Column]:
    """MinHash sketch as pure projection columns (no shuffle).

    Suitable for one-off signatures; ``_minhash_signature_df`` is the
    high-throughput form used by the LSH pipeline (Catalyst's projection
    collapse would otherwise re-derive the shingle array once per hash).
    """
    sh = _shingles(text_col, n)

    def mh(i: int) -> Column:
        # NB: close over the salt Column — extra lambda params (even
        # defaulted) would be bound to lambda variables by Spark
        salt = F.lit(f":{i}")
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(s, salt)))
        ).alias(f"mh{i}")

    return [mh(i) for i in range(num_hashes)]


def _minhash_signature_df(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """(id, mh0..mhk) via explode + hash-aggregate.

    Exploding distinct shingles and taking ``min(md5(shingle||salt))``
    per id keeps every expression inside whole-stage codegen, computes
    the shingle array exactly once per row, and partially aggregates
    map-side — one shuffle keyed on id, linear in total shingle count.
    """
    exploded = _shingle_rows(df, id_col, text_col, n)
    # min over the multiset == min over the distinct set: no dedup needed
    return exploded.groupBy(id_col).agg(*_mh_agg_exprs(num_hashes))


@lru_cache(maxsize=32)
def _mh_agg_exprs(num_hashes: int) -> tuple:
    """Memoized minhash aggregate Columns (see ``_shingle_exprs``)."""
    return tuple(
        F.min(F.md5(F.concat(F.col("s"), F.lit(f":{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    )


def _band_table_df(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int,
    band_size: int,
) -> DataFrame:
    if num_hashes % band_size != 0:
        raise ValueError("num_hashes must be divisible by band_size")
    sig = _minhash_signature_df(df, id_col, text_col, n, num_hashes)
    # attach band ordinal so identical keys in different bands
    # don't collide
    return sig.select(*_band_select_exprs(id_col, num_hashes, band_size))


@lru_cache(maxsize=32)
def _band_select_exprs(id_col: str, num_hashes: int, band_size: int) -> tuple:
    """Memoized banding Columns (see ``_shingle_exprs``)."""
    n_bands = num_hashes // band_size
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                )
            )
            for b in range(n_bands)
        ]
    )
    return (F.col(id_col), F.posexplode(band_keys).alias("band", "band_key"))


def minhash_band_table(
    table: Table,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> Table:
    """The corpus's MinHash LSH index as a first-class Table:
    (``id_col``, band, band_key) — one row per (doc, band).

    This is the durable asset of an incremental dedup pipeline: build
    it ONCE over the settled corpus, ``parquet_export`` it, and every
    future batch joins against the re-imported table via
    ``minhash_lsh_pairs(new, ..., against_bands=bands)`` — the corpus
    text is never re-shingled again (at 100 TB, banding the corpus is
    the dominant cost of the against= path; this removes it entirely).
    The n / num_hashes / band_size used to BUILD the table must match
    the probe call's parameters — they define the signature space."""
    return Table.from_df(
        _band_table_df(table.df, id_col, text_col, n, num_hashes, band_size),
        name=f"{table.table_name}_minhash_bands",
    )


def minhash_lsh_pairs(
    table: Table,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    against: Table | None = None,
    against_bands: Table | None = None,
) -> Table:
    """Candidate near-dup pairs via MinHash + LSH banding.

    Two docs are candidates iff all minhashes within at least one band
    agree. Returns distinct (id1, id2) with id1 < id2.

    ``against`` switches to the INCREMENTAL ingestion shape: candidates
    are (id1 = doc of ``table``, id2 = doc of ``against``) only — the
    daily-batch-vs-existing-corpus dedup, skipping the corpus×corpus
    self-join entirely. The new-batch band table is the small join side
    (AQE broadcasts it), so the corpus is one banding scan + one probe —
    the cost profile an incremental 100 TB pipeline needs. id1 < id2 is
    NOT imposed across tables (ids may interleave or even collide
    numerically; the sides are semantically distinct).

    ``against_bands`` takes the corpus side as a PREBUILT
    ``minhash_band_table`` (typically parquet-imported from a prior
    run) instead of raw documents: the corpus is not even scanned —
    the probe cost is the new batch's banding plus one join against
    the stored index. Build parameters must match this call's."""
    if num_hashes % band_size != 0:
        raise ValueError("num_hashes must be divisible by band_size")
    if against is not None and against_bands is not None:
        raise ValueError("pass against= (raw docs) or against_bands= (prebuilt), not both")

    def _banded(df):
        return _band_table_df(df, id_col, text_col, n, num_hashes, band_size)

    if against_bands is not None:
        expected = {id_col, "band", "band_key"}
        if not expected <= set(against_bands.fields):
            raise ValueError(
                f"against_bands must have columns {sorted(expected)} "
                f"(a minhash_band_table result); got {against_bands.fields}"
            )

    with scoped_persist("minhash_lsh_pairs") as scope:
        # the returned plan reads both band tables; the registry keeps the
        # corpus side (the asset reused across incremental batches) while
        # its plan stays the same
        a = scope.persist(_banded(table.df), _PAIRGEN_CACHE)
        if against_bands is not None:
            b = against_bands.df
        elif against is not None:
            b = scope.persist(_banded(against.df), _PAIRGEN_CACHE)
        else:
            b = a
        scope.keep(a, b)
    cond = [
        F.col("a.band") == F.col("b.band"),
        F.col("a.band_key") == F.col("b.band_key"),
    ]
    if against is None and against_bands is None:
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    # The first call fills the band cache inside this join, and AQE
    # broadcasts whichever side it sees finish first; a repeat call
    # reads the filled cache, sized exactly at planning, and broadcasts
    # the right side. So the second call compiles that variant's
    # classes once (seen on dedup_clusters); later calls compile none.
    pairs = (
        a.alias("a")
        .join(b.alias("b"), on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )
    return Table.from_df(pairs, name=f"{table.table_name}_minhash_pairs")


def ngram_jaccard_pairs(
    table: Table,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool | None = None,
) -> Table:
    """Exact pairwise n-gram Jaccard similarity ≥ threshold (exact up
    to 64-bit shingle-hash collisions — see the hashing note below).

    Inverted-index formulation: explode distinct shingles, self-join on
    shingle to count intersections, derive |A∪B| from per-doc sizes.

    The plain self-join is quadratic in documents sharing a hot shingle;
    the prefix filter (join only each document's first
    ``sz - ceil(t*sz) + 1`` shingles under a fixed global order —
    exactness-preserving) bounds that blowup but costs an extra window
    and two joins, which loses on small skew-free corpora. Default
    ``prefix_filter=None`` decides adaptively from one cheap statistic:
    ``sum(freq²)`` over shingles IS the self-join's output cardinality,
    so when it exceeds a small multiple of the corpus size the prefix
    path engages. Explicit True/False overrides.
    """
    df = table.df
    # narrow shingle form: the stream feeds distinct() (a shuffle on
    # (id, s)) and then the self-join re-shuffles on s regardless, so
    # _shingle_rows' window-lead exchange would be a pure extra shuffle
    # of the whole shingle stream (measured ~1.3x end-to-end at 10x).
    # One caveat: shingling now runs at INPUT parallelism. A small
    # parquet (one 128 MB split) would shingle single-threaded, so when
    # the source has fewer partitions than cores, redistribute the raw
    # text first — that shuffles only the documents (~1/n of the
    # shingle stream the window form shuffled) and is a no-op at real
    # scale, where inputs already carry thousands of splits.
    src = df.select(id_col, text_col)
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target, F.col(id_col))
    # shingles are 64-bit-hashed (xxhash64 over the SAME joined-token
    # string as always — identical hash values), and the per-doc
    # shingle SET is built IN-ROW with array_distinct instead of a
    # corpus-wide (id, s) distinct: a document's duplicate shingles are
    # all inside its own row, so deduplicating them never needed a
    # shuffle, and the per-doc set size falls out as size(array) with
    # no groupBy either. This removes two full gram-stream exchanges
    # (the distinct and the sizes aggregation) at every scale, and —
    # unlike the old shape — costs the same whether the input arrives
    # in one cached partition or thousands of real splits (the old
    # distinct leaned on single-mapper partial aggregation to collapse
    # duplicates pre-shuffle). Downstream stages shuffle 8-byte longs;
    # set semantics survive hashing up to xxhash64 collisions — p ~
    # (distinct shingles)²/2⁶⁴, ~1e-9 at 100M distinct shingles — so
    # "exact" means exact up to 64-bit shingle-hash collisions, the
    # caveat every large-scale shingle pipeline accepts.
    toked = src.select(F.col(id_col), _tokens(text_col).alias("__tk__")).where(
        F.size("__tk__") > 0
    )
    tk = F.col("__tk__")
    gset = F.array_distinct(
        F.when(
            F.size(tk) < n, F.array(F.xxhash64(F.array_join(tk, " ")))
        ).otherwise(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1))
                ),
                lambda i: F.xxhash64(F.array_join(F.slice(tk, i, n), " ")),
            )
        )
    )
    with scoped_persist("ngram_jaccard_pairs") as scope:
        with_set = scope.persist(
            toked.select(F.col(id_col), gset.alias("__gs__")), _PAIRGEN_CACHE
        )
        scope.keep(with_set)  # the returned plan reads it
    sh = with_set.select(F.col(id_col), F.explode("__gs__").alias("s"))
    sizes = with_set.select(F.col(id_col), F.size("__gs__").alias("sz"))
    if prefix_filter is None:
        decision_key = (df.semanticHash(), id_col, text_col, n)
        if decision_key in _ADAPTIVE_DECISIONS:
            prefix_filter = _ADAPTIVE_DECISIONS[decision_key]
        else:
            freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
            est = freq.agg(
                F.sum(F.col("f") * F.col("f")).alias("pairs"),
                F.sum("f").alias("rows"),
            ).collect()[0]
            # engage the prefix path when the self-join would emit more
            # than ~64 rows per shingle row (hot-shingle skew territory)
            prefix_filter = bool(
                est["pairs"] is not None
                and est["rows"]
                and est["pairs"] > 64 * est["rows"]
            )
            while len(_ADAPTIVE_DECISIONS) >= _ADAPTIVE_DECISIONS_MAX:
                _ADAPTIVE_DECISIONS.pop(next(iter(_ADAPTIVE_DECISIONS)))
            _ADAPTIVE_DECISIONS[decision_key] = prefix_filter
    if prefix_filter:
        # exactness-preserving prefix filtering: two docs with
        # Jaccard >= t MUST share a shingle within each other's first
        # (sz - ceil(t*sz) + 1) shingles under a fixed global order, so
        # only prefixes join for candidate generation and full sets are
        # intersected for candidates only. Wins when a few very frequent
        # shingles dominate the plain self-join; measured slower on
        # uniform corpora (extra window + joins), hence opt-in.
        from pyspark.sql import Window

        # the hashed shingle is already a fixed pseudo-random global
        # order (the role md5 played when shingles were strings)
        w = Window.partitionBy(id_col).orderBy(F.col("s"))
        ranked = sh.withColumn("__rn__", F.row_number().over(w)).join(sizes, on=id_col)
        prefix = ranked.filter(
            F.col("__rn__")
            <= F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1
        ).select(id_col, "s")
        pa = prefix.alias("pa")
        pb = prefix.alias("pb")
        candidates = (
            pa.join(
                pb,
                on=[
                    F.col("pa.s") == F.col("pb.s"),
                    F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"),
                ],
            )
            .select(
                F.col(f"pa.{id_col}").alias("id1"), F.col(f"pb.{id_col}").alias("id2")
            )
            .distinct()
        )
        a = sh.select(F.col(id_col).alias("id1"), F.col("s"))
        b = sh.select(F.col(id_col).alias("id2"), F.col("s"))
        inter = (
            candidates.join(a, on="id1")
            .join(b, on=["id2", "s"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # join strategy left to Catalyst (sort-merge here): a
        # shuffle_hash hint A/B'd ~11% faster on the join core at 10x
        # sf0.1 (1.45s vs 1.63s) but only ~4% end-to-end, and SMJ's
        # sort-spill behavior is the robust choice when BOTH sides are
        # corpus-scale — not worth pinning the plan for that margin
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                on=[
                    F.col("a.s") == F.col("b.s"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("sz").alias("sz2"))
    jac = (
        inter.join(sa, on="id1")
        .join(sb, on="id2")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )
    return Table.from_df(jac, name=f"{table.table_name}_jaccard_pairs")


def simhash(text_col: str, bits: int = 32) -> Column:
    """SimHash fingerprint from md5-derived token hashes.

    bit_i(doc) = sign of sum over tokens of (+1 if bit_i(hash(tok)) else -1).
    Narrow projection, engine-portable (md5 + hex → integer).
    """
    toks = _tokens(text_col)
    tok_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    def votes(mask: Column) -> Column:
        return F.aggregate(
            tok_hash,
            F.lit(0).cast("long"),
            lambda a, h: a
            + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    acc = F.lit(0).cast("long")
    for i in range(bits):
        bit = 1 << i
        acc = acc + F.when(votes(F.lit(bit)) > 0, F.lit(bit)).otherwise(F.lit(0))
    return acc


def _simhash_df(df: DataFrame, id_col: str, text_col: str, bits: int) -> DataFrame:
    """(id, sh) via explode + hash-aggregate.

    Same fingerprint as ``simhash`` but computed with one md5 per token
    and ``bits`` codegen'd conditional sums, instead of ``bits``
    interpreted array folds per row — one shuffle keyed on id.
    """
    toks = df.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("t")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long").alias("h"),
    )
    # the `bits` per-bit vote sums are built as ONE SQL expression, not
    # `bits` Column objects: each F.sum(F.when(...)) costs ~6 py4j round
    # trips and the loop was ~0.6s of pure plan-construction overhead
    # per call — 70% of the operator's wall time at sf0.1 (same lesson
    # as lsh_signature). Execution plan and results are identical.
    votes_expr = F.expr(
        "array("
        + ", ".join(f"sum(if((h & {1 << i}L) != 0, 1L, -1L))" for i in range(bits))
        + ")"
    )
    votes_df = toks.groupBy(id_col).agg(votes_expr.alias("votes"))
    sh = F.expr(
        "aggregate(transform(votes, (v, i) -> if(v > 0, shiftleft(1L, i), 0L)), "
        "0L, (a, x) -> a + x)"
    )
    return votes_df.select(F.col(id_col), sh.cast("long").alias("sh"))


def hamming_hash_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int,
) -> DataFrame:
    """Pairs (id1, id2, hamming) with Hamming distance ≤ ``max_hamming``
    between ``bits``-wide integer fingerprints, by pigeonhole blocking:
    split the fingerprint into ``n_blocks`` blocks; any pair within
    distance ``max_hamming < n_blocks`` agrees on at least one block —
    equi-join per block, then exact Hamming filter via bit_count(xor).
    Scale path: one shuffle per block, no cross join. Shared by
    ``simhash_dedup_pairs`` (text) and ``multimodal.image_dup_pairs``
    (perceptual image hashes)."""
    if not max_hamming < n_blocks:
        raise ValueError(
            f"pigeonhole bound needs max_hamming ({max_hamming}) < "
            f"n_blocks ({n_blocks})"
        )
    block_width = bits // n_blocks
    sh = df.select(F.col(id_col), F.col(hash_col).alias("sh"))
    blocks = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.shiftrightunsigned(F.col("sh"), b * block_width)
                .bitwiseAND(F.lit((1 << block_width) - 1))
                .cast("string"),
            )
            for b in range(n_blocks)
        ]
    )
    with scoped_persist("hamming_hash_pairs") as scope:
        banded = scope.persist(
            sh.select(F.col(id_col), F.col("sh"), F.explode(blocks).alias("blk")),
            _PAIRGEN_CACHE,
        )
        scope.keep(banded)  # the returned plan reads it
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(
                F.col("a.sh").bitwiseXOR(F.col("b.sh"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )


def simhash_dedup_pairs(
    table: Table,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> Table:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking and the exact Hamming filter live in
    ``hamming_hash_pairs`` (pigeonhole: one equi-join per block).
    """
    sh = _simhash_df(table.df, id_col, text_col, bits)
    pairs = hamming_hash_pairs(sh, id_col, "sh", bits, max_hamming, n_blocks)
    return Table.from_df(pairs, name=f"{table.table_name}_simhash_pairs")


def embedding_dup_pairs(
    table: Table,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_rows: int = 4096,
) -> Table:
    """Near-dup pairs by embedding cosine ≥ threshold (exact pairwise).

    Distributed block-matrix formulation: vectors are hashed into blocks
    of ~``block_rows`` rows, every unordered pair of blocks becomes one
    task, and each task runs one BLAS matmul over its two dense blocks,
    emitting only above-threshold (id1 < id2) pairs. No table data ever
    reaches the driver (the only driver-side value is the row count used
    to size the blocks), and per-task memory is bounded by two blocks —
    the executor-OOM/driver-collect failure modes of a broadcast
    formulation are gone. Work is inherently O(N²/B) block pairs: this is
    the exact path; the sub-quadratic scale path is
    ``embedding_lsh_dup_pairs``.
    """
    import math

    df = table.df.select(id_col, vec_col)
    n = df.count()
    if n == 0:
        empty = table.spark.createDataFrame(
            [], "id1 long, id2 long, cosine double"
        )
        return Table.from_df(empty, name=f"{table.table_name}_embedding_pairs")
    # small corpora still want parallel block pairs: target >= ~8 blocks
    # (36 pair-tasks) while keeping per-task memory <= block_rows vectors
    eff_block_rows = min(block_rows, max(256, math.ceil(n / 8)))
    n_blocks = max(1, math.ceil(n / eff_block_rows))
    blocked = df.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).cast("array<double>").alias("__vec__"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__blk__"),
    )
    packed = blocked.groupBy("__blk__").agg(
        F.collect_list(F.struct("__id__", "__vec__")).alias("items")
    )
    # the self-join consumes the packed frame TWICE (a and b sides) and
    # exchange reuse does not dedupe the two aggregation subtrees (the
    # semantic_dup_pairs finding, guide §1.2) — persist so the
    # corpus-vector collect_list shuffle runs once, not once per side
    with scoped_persist("embedding_dup_pairs") as scope:
        scope.keep(scope.persist(packed, _PAIRGEN_CACHE))  # the plan reads it
    a = packed.select(F.col("__blk__").alias("b1"), F.col("items").alias("items1"))
    b = packed.select(F.col("__blk__").alias("b2"), F.col("items").alias("items2"))
    block_pairs = a.join(b, F.col("b1") <= F.col("b2"))

    def emit(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                ids1 = np.array([e["__id__"] for e in row["items1"]], dtype=np.int64)
                M1 = np.array([list(e["__vec__"]) for e in row["items1"]], dtype=np.float64)
                ids2 = np.array([e["__id__"] for e in row["items2"]], dtype=np.int64)
                M2 = np.array([list(e["__vec__"]) for e in row["items2"]], dtype=np.float64)
                S = np.round(
                    (M1 @ M2.T)
                    / np.outer(np.linalg.norm(M1, axis=1), np.linalg.norm(M2, axis=1)),
                    6,
                )
                if row["b1"] == row["b2"]:
                    keep = (S >= threshold) & (ids1[:, None] < ids2[None, :])
                    bi, mj = np.nonzero(keep)
                    id1, id2 = ids1[bi], ids2[mj]
                else:
                    keep = S >= threshold
                    bi, mj = np.nonzero(keep)
                    x, y = ids1[bi], ids2[mj]
                    id1, id2 = np.minimum(x, y), np.maximum(x, y)
                yield pd.DataFrame({"id1": id1, "id2": id2, "cosine": S[bi, mj]})

    out = block_pairs.repartition(
        max(32, min(n_blocks * (n_blocks + 1) // 2, 512))
    ).mapInPandas(emit, "id1 long, id2 long, cosine double")
    return Table.from_df(out, name=f"{table.table_name}_embedding_pairs")


def embedding_signature_table(
    table: Table,
    id_col: str,
    vec_col: str,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> Table:
    """The corpus's hyperplane-LSH index as a first-class Table:
    (``id_col``, ``vec_col`` as array<double>, sig). Build once over
    the settled corpus, ``parquet_export`` it, and probe every future
    batch with ``embedding_lsh_dup_pairs(new, ...,
    against_sigs=sigs)`` — the corpus vectors are carried in the table
    so candidate scoring needs no second corpus source. n_planes / dim
    / seed must match the probe call's (they define the plane matrix)."""
    from .similarity import _planes, lsh_signature

    planes = _planes(dim, n_planes, seed)
    out = table.df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("sig", lsh_signature(vec_col, planes))
    return Table.from_df(out, name=f"{table.table_name}_lsh_sigs")


def embedding_lsh_dup_pairs(
    table: Table,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    use_arrow: bool = False,
    probe_bits: int = 0,
    against: Table | None = None,
    against_sigs: Table | None = None,
) -> Table:
    """Approximate near-dup pairs: random-hyperplane bucketing, then exact
    cosine only within each bucket — the sub-quadratic scale path
    (candidates via one equi-join on the signature, O(N²/2^planes)
    in-bucket work). Deterministic given ``seed``, so it is
    oracle-checkable by serializing the plane matrix into SQL.

    Scoring default is the native JVM fold (same accumulation order as
    the DuckDB oracle; measured ~1.7x faster end-to-end at moderate
    candidate volume — no Python worker round-trip). ``use_arrow=True``
    switches to the numpy batch scorer, which wins when candidate volume
    per task is large enough for vectorization to dominate (very high
    dim or very hot buckets).

    ``probe_bits=1`` enables distance-1 multiprobe: the left join side
    also probes every single-bit-flipped signature, so a true near-dup
    pair straddling ONE hyperplane is still found. This decouples recall
    from bucket size — at scale, raise ``n_planes`` (smaller buckets ⇒
    less O(N²)-in-bucket work) and keep recall with multiprobe, instead
    of holding ``n_planes`` low and paying quadratic in-bucket growth.
    Candidate volume grows by at most (n_planes+1)× while in-bucket
    quadratic work shrinks by 2^Δplanes. Each candidate pair still
    appears exactly once: only the ``id1 < id2`` side probes, and a
    vector's probe signatures are pairwise distinct, so a given (id1,
    id2) matches on at most one probe. Still one equi-join — the probe
    explode is a narrow row amplification, no extra shuffle kind.

    ``against`` switches to the INCREMENTAL ingestion shape: (id1 = row
    of ``table``, id2 = row of ``against``) candidates only, no
    corpus×corpus self-join; the ``id1 < id2`` ordering is not imposed
    (the sides are semantically distinct). Multiprobe still yields each
    pair at most once — only the new side probes, its probe signatures
    are pairwise distinct, and the corpus signature is fixed.

    ``against_sigs`` takes the corpus side as a PREBUILT
    ``embedding_signature_table`` (typically parquet-imported from a
    prior run): the corpus is never rescanned or re-signed — probe
    cost is the new batch's signatures plus the bucket join against
    the stored index. Build parameters must match this call's."""
    from .similarity import _planes, cosine_expr, lsh_signature

    if probe_bits not in (0, 1):
        raise ValueError("probe_bits must be 0 (off) or 1 (single-bit multiprobe)")
    if against is not None and against_sigs is not None:
        raise ValueError("pass against= (raw vectors) or against_sigs= (prebuilt), not both")
    if against_sigs is not None:
        expected = {id_col, vec_col, "sig"}
        if not expected <= set(against_sigs.fields):
            raise ValueError(
                f"against_sigs must have columns {sorted(expected)} "
                f"(an embedding_signature_table result); got {against_sigs.fields}"
            )
    planes = _planes(dim, n_planes, seed)

    def _sig(df):
        return df.select(
            F.col(id_col).alias("__id__"),
            F.col(vec_col).cast("array<double>").alias("__vec__"),
        ).withColumn("sig", lsh_signature("__vec__", planes))

    with scoped_persist("embedding_lsh_dup_pairs") as scope:
        sided = scope.persist(_sig(table.df), _PAIRGEN_CACHE)
        scope.keep(sided)  # the returned plan reads it
    if probe_bits == 1:
        # original signature + every single-bit flip, all native string
        # ops (substring/concat) — distinct by construction
        flips = [F.col("sig")]
        for i in range(1, n_planes + 1):
            flipped_bit = F.when(
                F.substring(F.col("sig"), i, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1"))
            flips.append(
                F.concat(
                    F.substring(F.col("sig"), 1, i - 1),
                    flipped_bit,
                    F.substring(F.col("sig"), i + 1, n_planes - i),
                )
            )
        probed = sided.select(
            "__id__", "__vec__", F.explode(F.array(*flips)).alias("psig")
        )
        a = probed.alias("a")
        join_sig = F.col("a.psig") == F.col("b.sig")
    else:
        a = sided.alias("a")
        join_sig = F.col("a.sig") == F.col("b.sig")
    if against_sigs is not None:
        corpus_sigs = against_sigs.df.select(
            F.col(id_col).alias("__id__"),
            F.col(vec_col).cast("array<double>").alias("__vec__"),
            "sig",
        )
    elif against is not None:
        corpus_sigs = _sig(against.df)
    else:
        corpus_sigs = sided
    b = corpus_sigs.alias("b")
    cond = [join_sig]
    if against is None and against_sigs is None:
        cond.append(F.col("a.__id__") < F.col("b.__id__"))
    cand = a.join(
        b,
        on=cond,
    ).select(
        F.col("a.__id__").alias("id1"),
        F.col("b.__id__").alias("id2"),
        F.col("a.__vec__").alias("v1"),
        F.col("b.__vec__").alias("v2"),
    )

    if not use_arrow:
        out = cand.select(
            "id1",
            "id2",
            F.round(cosine_expr(F.col("v1"), F.col("v2")), 6).alias("cosine"),
        ).where(F.col("cosine") >= F.lit(threshold))
        return Table.from_df(out, name=f"{table.table_name}_embedding_lsh_pairs")

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["v1"].to_numpy()).astype(np.float64, copy=False)
            B = np.stack(pdf["v2"].to_numpy()).astype(np.float64, copy=False)
            cos = np.round(
                np.einsum("ij,ij->i", A, B)
                / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)),
                6,
            )
            out = pd.DataFrame(
                {"id1": pdf["id1"], "id2": pdf["id2"], "cosine": cos}
            )
            yield out[out["cosine"] >= threshold]

    out = cand.mapInPandas(score, "id1 long, id2 long, cosine double")
    return Table.from_df(out, name=f"{table.table_name}_embedding_lsh_pairs")


def semantic_dup_pairs(
    table: Table,
    id_col: str,
    vec_col: str,
    threshold: float = 0.85,
    k: int = 8,
    clusters: Table | None = None,
    train_iters: int = 10,
    sample_size: int = 4096,
    seed: int = 42,
    init_ids: list | None = None,
    block_rows: int = 4096,
    against: Table | None = None,
    centroids=None,
) -> Table:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then exact
    pairwise cosine ONLY within each cluster. Net-new over the reference.

    This is the scale answer to ``embedding_dup_pairs``' O(N²): with k
    clusters the candidate volume is Σ n_c² ≈ N²/k for balanced
    clusters, and unlike hyperplane LSH the partitioning adapts to the
    data's density (a tight topic cluster is compared exhaustively; two
    far-apart topics are never compared at all). At 100 TB: the
    clustering pass is one broadcast + one Arrow scan
    (``cluster_embeddings``), the pair pass is ONE equi-join shuffle on
    the cluster id — hot clusters bound the in-partition quadratic work,
    so k is the knob that trades recall (near-dups straddling a cluster
    boundary are missed) against cost, exactly the paper's trade.

    ``clusters`` accepts a precomputed (id, cluster) assignment — the
    ``cluster_embeddings`` output, or ANY partition labels (crawl
    domain, topic model, language) for a domain-blocked dedup; when
    omitted it is computed here with the given k/seed/init knobs.
    Label and id dtypes are preserved (string domains, string doc ids —
    ``id1 < id2`` is then lexicographic); NULL-labeled rows belong to
    no block and are excluded.

    Scoring reuses ``embedding_dup_pairs``' block-matmul formulation,
    restricted to same-cluster block pairs: each cluster is hashed
    into sub-blocks of ≤ ``block_rows`` vectors (sized from an exact
    k-row count agg, broadcast back), every same-cluster unordered
    block pair is one BLAS matmul task. Per-task memory stays bounded
    by two blocks even for skew-hot clusters, and dense cosine lives
    in numpy, not an interpreted JVM fold — an equi-join + per-pair
    higher-order-function formulation A/B-measured 6.3s vs 0.6s at
    sf0.1's ~250k candidate pairs (the same Arrow-beats-expr result as
    ivf_topk's centroid-fold note). Emits (id1 < id2, cluster,
    cosine >= threshold) rounded to 6, like the other pair operators.

    ``against`` switches to the INCREMENTAL ingestion shape, like the
    MinHash/LSH/spans operators: (id1 = ``table`` row, id2 =
    ``against`` corpus row) candidates only, never corpus×corpus. The
    model (centroids or init_ids) is resolved from the CORPUS side —
    the stable asset reused across batches — and an explicit
    ``centroids`` matrix skips training entirely
    (train-once-assign-forever; pairs with ``cluster_embeddings``'
    ``centroids=`` for streaming-ingest labeling). id1 < id2 is not
    imposed across sides (they are semantically distinct).
    """
    def _narrow(side: Table):
        return side.df.select(
            F.col(id_col).alias("__id__"),
            F.col(vec_col).cast("array<double>").alias("__vec__"),
        )

    a_narrow = _narrow(table)
    id_dtype_a = dict(a_narrow.dtypes)["__id__"]
    _INTS = ("tinyint", "smallint", "int", "bigint")
    int_a = id_dtype_a in _INTS

    if clusters is not None:
        # external blocking labels (any dtype — domain strings, topic
        # ints): one equi-join to attach them. NULL-labeled rows are
        # excluded — they belong to no block.
        cluster_dtype = dict(clusters.df.dtypes)["cluster"]

        def attach(narrow, dt):
            return narrow.join(
                clusters.df.select(F.col(id_col).alias("__id__"), "cluster"),
                on="__id__",
            ).where(F.col("cluster").isNotNull())

    else:
        # internal clustering: assign in ONE Arrow pass that carries the
        # vectors straight through — no corpus-vs-assignment join (at
        # 100 TB that join is a second corpus scan plus a shuffle). In
        # incremental mode the model comes from the CORPUS side.
        from .similarity import resolve_centroids

        model_side = against if against is not None else table
        bc = table.spark.sparkContext.broadcast(
            resolve_centroids(
                model_side, id_col, vec_col, k, train_iters, sample_size,
                seed, init_ids, centroids,
            )
        )

        def assign(batches):
            import numpy as np
            import pandas as pd

            cents = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.stack(pdf["__vec__"].to_numpy()).astype(np.float64, copy=False)
                norms = np.linalg.norm(M, axis=1, keepdims=True)
                Mn = M / np.where(norms == 0, 1.0, norms)
                # same rounded-argmax total order as cluster_embeddings
                cl = np.argmax(np.round(Mn @ cents.T, 6), axis=1)
                yield pd.DataFrame(
                    {
                        "__id__": pdf["__id__"],
                        "__vec__": pdf["__vec__"],
                        "cluster": cl.astype(np.int32),
                    }
                )

        cluster_dtype = "int"

        def attach(narrow, dt):
            return narrow.mapInPandas(
                assign, f"__id__ {dt}, __vec__ array<double>, cluster int"
            )

    def pack(assigned):
        # exact per-cluster sub-block counts: one row per cluster,
        # broadcast back to size the hash sub-blocking
        sized = assigned.groupBy("cluster").count().select(
            "cluster",
            F.greatest(
                F.lit(1), F.ceil(F.col("count") / F.lit(block_rows))
            ).cast("int").alias("__nsub__"),
        )
        return (
            assigned.join(F.broadcast(sized), on="cluster")
            .withColumn(
                "__blk__",
                F.pmod(F.xxhash64(F.col("__id__")), F.col("__nsub__")).cast("int"),
            )
            .groupBy("cluster", "__blk__")
            .agg(F.collect_list(F.struct("__id__", "__vec__")).alias("items"))
        )

    with scoped_persist("semantic_dup_pairs") as scope:
        assigned_a = scope.persist(attach(a_narrow, id_dtype_a), _PAIRGEN_CACHE)
        if against is None:
            # the self-join consumes the packed frame TWICE (aa and bb)
            # and exchange reuse does not dedupe the two aggregation
            # subtrees (plan-verified: both ObjectHashAggregate pipelines
            # execute) — persist the packed frame so the count-agg +
            # broadcast + collect_list shuffles run once, not once per
            # side (guide §1.2). Same bytes as the assigned cache:
            # cluster-blocked structs of the corpus vectors.
            packed_a = scope.persist(pack(assigned_a), _PAIRGEN_CACHE)
            scope.keep(assigned_a, packed_a)  # the returned plan reads them
        else:
            b_narrow = _narrow(against)
            id_dtype_b = dict(b_narrow.dtypes)["__id__"]
            assigned_b = scope.persist(attach(b_narrow, id_dtype_b), _PAIRGEN_CACHE)
            packed_a = pack(assigned_a)
            scope.keep(assigned_a, assigned_b)  # the returned plan reads them
    aa = packed_a.select(
        "cluster", F.col("__blk__").alias("b1"), F.col("items").alias("items1")
    )
    if against is None:
        symmetric = True
        id_dtype_b, int_b = id_dtype_a, int_a
        bb = packed_a.select(
            "cluster", F.col("__blk__").alias("b2"), F.col("items").alias("items2")
        )
        block_pairs = aa.join(bb, on="cluster").where(F.col("b1") <= F.col("b2"))
    else:
        symmetric = False
        int_b = id_dtype_b in _INTS
        bb = pack(assigned_b).select(
            "cluster", F.col("__blk__").alias("b2"), F.col("items").alias("items2")
        )
        # The build side of this join varies between calls: both sides
        # are shuffle stages that run at once, and AQE broadcasts the
        # one it sees finish first (exact size against the other's
        # estimate). Each build side compiles its own classes once;
        # Spark's codegen cache holds both, so later calls compile none.
        block_pairs = aa.join(bb, on="cluster")

    def emit(batches):
        import numpy as np
        import pandas as pd

        id_np1 = np.int64 if int_a else object
        id_np2 = np.int64 if int_b else object
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids1 = np.array([e["__id__"] for e in row["items1"]], dtype=id_np1)
                M1 = np.array(
                    [list(e["__vec__"]) for e in row["items1"]], dtype=np.float64
                )
                ids2 = np.array([e["__id__"] for e in row["items2"]], dtype=id_np2)
                M2 = np.array(
                    [list(e["__vec__"]) for e in row["items2"]], dtype=np.float64
                )
                S = np.round(
                    (M1 @ M2.T)
                    / np.outer(
                        np.linalg.norm(M1, axis=1), np.linalg.norm(M2, axis=1)
                    ),
                    6,
                )
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
                yield pd.DataFrame(
                    {
                        "id1": id1,
                        "id2": id2,
                        "cluster": pd.Series([row["cluster"]] * len(id1)),
                        "cosine": S[bi, mj],
                    }
                )

    # hash-spread block pairs so a hot cluster's matmul tasks don't all
    # land in the join's per-cluster output partition; no explicit N —
    # shuffle.partitions governs fan-out at scale and AQE coalesces the
    # near-empty case (a fixed round-robin N measured +0.7s of
    # empty-task overhead at sf0.1)
    out = block_pairs.repartition(
        F.col("cluster"), F.col("b1"), F.col("b2")
    ).mapInPandas(
        emit,
        f"id1 {id_dtype_a}, id2 {id_dtype_b}, cluster {cluster_dtype}, cosine double",
    )
    return Table.from_df(out, name=f"{table.table_name}_semantic_pairs")


def semantic_dedup(
    table: Table,
    id_col: str,
    vec_col: str,
    threshold: float = 0.85,
    k: int = 8,
    clusters: Table | None = None,
    score_col: str | None = None,
    **kwargs,
) -> Table:
    """Deduplicated corpus under SemDeDup semantics: semantic pair list
    (``semantic_dup_pairs``), connected components, keep one canonical
    member per component (min id, or best ``score_col`` — the
    keep-the-best-copy production policy), drop the rest via a left-anti
    join. One pair-join shuffle + the CC rounds + one anti-join.

    With ``against=`` (incremental ingestion) the policy is simpler and
    matches the other incremental operators: the corpus is the settled
    asset, so ANY ``table`` row with a semantic match in the corpus is
    dropped (``score_col`` does not apply — no within-batch clustering
    happens) and the cleaned new batch is returned."""
    against = kwargs.get("against")
    pairs = semantic_dup_pairs(
        table, id_col, vec_col, threshold=threshold, k=k, clusters=clusters, **kwargs
    )
    if against is not None:
        dup_new = pairs.df.select(F.col("id1").alias(id_col)).distinct()
        return table._derive(
            table._require_df().join(dup_new, on=id_col, how="left_anti")
        )
    return keep_canonical(table, pairs.df, id_col, score_col=score_col)


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "id1",
    b_col: str = "id2",
    max_iter: int = 25,
    broadcast_nodes: int = 1_000_000,
    driver_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every id
    appearing in any pair gets a ``cluster_id`` — the smallest id
    reachable through the pair graph (the canonical representative).

    This is the step that turns pairwise near-dup evidence (MinHash /
    SimHash / embedding LSH) into an actionable "keep one per cluster"
    decision for corpus curation; the reference has no equivalent
    (single-node, no graph ops).

    Distributed min-label propagation with pointer jumping. Round 0 is
    free: labels seed directly from the edge list as
    ``min(id, min(neighbour))`` — one partially-aggregated groupBy over
    the (src, dst)-symmetrized edges, no ``distinct`` (min is
    duplicate-insensitive, so the dedup shuffle the naive formulation
    pays is pure waste). Each subsequent round:
    (1) neighbour pull — every node takes the min label across its graph
        neighbours (one equi-join + one partially-aggregated groupBy);
    (2) path compression — every node re-reads its label's label (one
        self-equi-join), so label chains at least halve per round.
    Convergence is therefore O(log diameter) rounds. The fixpoint test
    is fused into the round itself: the round's plan carries a
    ``chg = (new_lbl != old_lbl)`` flag column, so after the (eager)
    ``localCheckpoint`` materializes the round, convergence is a
    near-free ``isEmpty`` over already-cached data — no separate
    old-vs-new join job, which previously re-shuffled both label tables
    every round just to produce one driver integer.

    Strategy is adaptive on node count (known after the seed job, one
    cached count): a label table under ``broadcast_nodes`` rows is
    broadcast into every join, so a round's only shuffle is the
    partially-aggregated neighbour groupBy — the big persisted edge
    table is never reshuffled. Above the threshold the plain shuffle
    path runs — at 100 TB the label table is billions of rows and
    broadcasting it would be wrong, while the shuffle path's per-round
    cost stays a fixed number of key shuffles on (id, lbl). Each round's
    label table is ``localCheckpoint``-ed: the self-join references it
    twice, so without lineage *truncation* the logical plan doubles per
    round and Catalyst analysis goes exponential (persist alone caches
    data but re-analyzes the full plan). ``max_iter`` is a safety bound
    (2^25-deep dup chains do not occur), not a tuning knob. This is the
    min-label specialization of the alternating large-star/small-star
    MapReduce CC algorithm (Kiveris et al., SoCC'14).

    Below ``driver_edges`` pairs the graph is solved driver-side with
    union-find instead: a single distributed round costs several jobs of
    fixed scheduler overhead, while a few hundred thousand edges
    union-find in milliseconds — the same small-graph shortcut
    production CC implementations take. The distributed loop is the
    ≥``driver_edges`` path (a 100 TB corpus's pair list easily exceeds
    it). Results are identical; the threshold only picks the engine.
    """
    # count-only probe first: it ships no rows, so an oversized graph
    # (the exact case driver_edges guards) never pushes ~2M Row objects
    # through the driver just to be discarded. The pair list is persisted
    # (spill-safe) around the probe so neither path re-executes the pair
    # pipeline: the driver path's collect and the distributed path's
    # src/dst symmetrization both read the probe's cache instead of
    # re-running the candidate join + distinct (guide §1.2 — measured as
    # a full second execution of the self-join stage per call). A pair
    # frame the CALLER already persisted stays theirs; each new label
    # round's checkpoint releases the previous one, and the last round
    # stays pinned because the returned plan reads it.
    with scoped_persist("dup_clusters") as scope:
        pairs = scope.persist(pairs, _PAIRGEN_CACHE)
        n_pairs = pairs.limit(driver_edges + 1).count()
        if n_pairs <= driver_edges:
            rows = pairs.select(a_col, b_col).collect()
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for r in rows:
                a, b = r[0], r[1]
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {v for r in rows for v in (r[0], r[1])}
            out = [(v, find(v)) for v in nodes]
            spark = pairs.sparkSession
            # derive the output schema from the input pair columns so the
            # driver path returns the SAME types as the distributed path
            # for any id dtype (string doc ids included) — behavior must
            # not diverge by graph size
            from pyspark.sql import types as SQLT

            id_type = pairs.schema[a_col].dataType
            schema = SQLT.StructType(
                [
                    SQLT.StructField("doc_id", id_type, True),
                    SQLT.StructField("cluster_id", id_type, True),
                ]
            )
            return small_df(spark, out, schema)
        e1 = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        e2 = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        edges = scope.persist(e1.union(e2), _PAIRGEN_CACHE)
        # seed = one neighbour-pull round fused into label construction
        labels = scope.checkpoint(
            edges.groupBy("src")
            .agg(F.least(F.first("src"), F.min("dst")).alias("lbl"))
            .select(F.col("src").alias("id"), "lbl")
        )
        small = labels.count() <= broadcast_nodes  # cached: near-free job
        _b = F.broadcast if small else (lambda df: df)
        for _ in range(max_iter):
            nbr_min = (
                edges.join(_b(labels), edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            stepped = (
                labels.alias("l")
                .join(_b(nbr_min).alias("n"), F.col("l.id") == F.col("n.src"), "left")
                .select(
                    F.col("l.id").alias("id"),
                    F.least(
                        F.col("l.lbl"), F.coalesce(F.col("n.nbr_lbl"), F.col("l.lbl"))
                    ).alias("lbl"),
                    F.col("l.lbl").alias("olbl"),
                )
            )
            # jump through the PREVIOUS round's (cached) labels, not
            # `stepped` itself: a stepped-vs-stepped self-join would
            # compute the edge join twice per round (no ReusedExchange
            # across AQE stages), while `labels` is checkpointed data
            # eager lineage truncation: the O(1)-deep plan per round
            jumped = scope.checkpoint(
                stepped.alias("s")
                .join(
                    _b(
                        labels.select(
                            F.col("id").alias("pid"), F.col("lbl").alias("plbl")
                        )
                    ).alias("p"),
                    F.col("s.lbl") == F.col("p.pid"),
                    "left",
                )
                .select(
                    F.col("s.id").alias("id"),
                    F.coalesce(F.col("p.plbl"), F.col("s.lbl")).alias("lbl"),
                    (
                        F.coalesce(F.col("p.plbl"), F.col("s.lbl"))
                        != F.col("s.olbl")
                    ).alias("chg"),
                )
            )
            converged = jumped.where(F.col("chg")).isEmpty()
            labels = jumped.select("id", "lbl")
            if converged:
                break
        return labels.select(
            F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )


def keep_canonical(
    table: Table,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "id1",
    b_col: str = "id2",
    max_iter: int = 25,
    score_col: str | None = None,
    descending: bool = True,
) -> Table:
    """Drop every cluster member except the canonical one: the
    deduplicated corpus induced by a near-dup pair list.

    By default canonical = the min-id member (cheap, deterministic).
    With ``score_col`` the canonical is the best-scoring member per
    cluster (``descending=True`` keeps the max — e.g. a quality score —
    ties broken by min id, a total order since ids are unique): the
    production dedup policy is usually "keep the BEST copy", not the
    first-crawled one. Either way the final step is a plain left-anti
    join against the non-canonical ids (AQE broadcasts it when small);
    the score path adds one window over the (small) cluster-membership
    table, never over the corpus."""
    clusters = dup_clusters(pairs, a_col, b_col, max_iter)
    if score_col is None:
        drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        from pyspark.sql import Window

        scores = table._require_df().select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("__sc__")
        )
        order = (
            F.col("__sc__").desc() if descending else F.col("__sc__").asc()
        )
        w = Window.partitionBy("cluster_id").orderBy(
            order, F.col("doc_id").asc()
        )
        drop = (
            clusters.join(scores, on="doc_id")
            .withColumn("__rk__", F.row_number().over(w))
            .where(F.col("__rk__") > 1)
            .select(F.col("doc_id").alias(id_col))
        )
    out = table._require_df().join(drop, on=id_col, how="left_anti")
    return table._derive(out)


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better") and boilerplate line
# removal (CCNet / RefinedWeb style). Net-new over the reference —
# no littletable analog; these are the exact-match complements to the
# approximate MinHash/SimHash family above.
# ---------------------------------------------------------------------------


def _positioned_gram_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, hash_keys: bool
) -> DataFrame:
    """(id, p, g) rows: token position p (1-based) and the k-token gram
    starting there. Narrow (tokenize once + transform/slice + explode,
    all codegen, inherits input partitioning — same design as
    ``_ngram_rows``). Docs shorter than k tokens emit no rows: they
    cannot contain a k-token duplicate span.

    ``hash_keys=True`` replaces the gram string with ``xxhash64`` over
    the token-slice ARRAY — 8 bytes instead of ~6k/8 chars per row, and
    no per-gram string concatenation (hashing the array directly
    measured ~15% faster than array_join + hash at sf0.1). At 10^12
    grams the 64-bit birthday bound expects ~n^2/2^65 ≈ tens of
    thousands of colliding PAIRS corpus-wide, i.e. a ~1e-8 false-mark
    rate on spans; acceptable for dedup (marks a rare non-duplicate
    span), switchable off for exact audits."""
    toked = df.select(F.col(id_col), _tokens(text_col).alias("__tk__")).where(
        F.size("__tk__") >= k
    )
    tk = F.col("__tk__")
    gram = lambda i: F.array_join(F.slice(tk, i, k), " ")  # noqa: E731
    key = (lambda i: F.xxhash64(F.slice(tk, i, k))) if hash_keys else gram
    pos = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - F.lit(k - 1)),
                lambda i: F.struct(
                    i.cast("bigint").alias("p"), key(i).alias("g")
                ),
            )
        ).alias("pg"),
    )
    return pos.select(F.col(id_col), F.col("pg.p").alias("p"), F.col("pg.g").alias("g"))


def span_gram_table(
    table: Table,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 1,
    hash_keys: bool = True,
) -> Table:
    """The corpus's k-token-gram set as a durable probe asset: a single
    column ``g`` holding every gram that occurs in >= ``min_docs``
    distinct corpus documents (``min_docs`` is BAKED IN at build time).
    Build once over the settled corpus, ``parquet_export``, and mark
    every future batch with ``duplicate_spans(new, ...,
    against_grams=grams)`` — the corpus text is never re-tokenized.
    ``k`` and ``hash_keys`` must match the probe call's."""
    cpos = _positioned_gram_rows(
        table._require_df(), id_col, text_col, k, hash_keys
    )
    if min_docs <= 1:
        dup = cpos.select("g").distinct()
    elif min_docs == 2:
        dup = (
            cpos.groupBy("g")
            .agg(F.min(id_col).alias("__a__"), F.max(id_col).alias("__b__"))
            .where(F.col("__a__") != F.col("__b__"))
            .select("g")
        )
    else:
        dup = (
            cpos.groupBy("g")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
            .where(F.col("__nd__") >= min_docs)
            .select("g")
        )
    return Table.from_df(dup, name=f"{table.table_name}_span_grams")


def duplicate_spans(
    table: Table,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    hash_keys: bool = True,
    against: Table | None = None,
    against_grams: Table | None = None,
) -> Table:
    """Exact-substring duplicate detection: every maximal token span
    whose k-token grams all occur in >= ``min_docs`` DISTINCT documents,
    as (id, span_start, span_end, span_tokens), positions 1-based
    inclusive. Intra-document repeats do NOT mark a span (that signal is
    ``repetition_score``); this is the cross-document exact complement
    to the approximate MinHash/SimHash family.

    ``against`` switches to the INCREMENTAL ingestion shape: spans of
    ``table`` (the new batch) whose grams occur in >= ``min_docs``
    documents of ``against`` (the existing corpus) — pass
    ``min_docs=1`` for the usual any-corpus-occurrence marking. The
    corpus side is one gram aggregation, the new batch one semi-join
    probe — no corpus-side span merging, no corpus×corpus work.
    ``against_grams`` takes that corpus gram set PREBUILT
    (``span_gram_table``, min_docs baked in at build time), so the
    corpus is not scanned at all.

    Scale shape (100 TB): gram generation is narrow; ONE shuffle groups
    by gram key (8-byte hashed by default, see ``_positioned_gram_rows``)
    with map-side partial aggregation; the mark-back semi-join reuses
    that exchange (both sides hash-partitioned on g). For the common
    ``min_docs=2`` the dup test is min(id) != max(id) — two cheap
    algebraic aggs instead of a count-distinct expansion. Span merging
    is a per-document window (docs are bounded, no skew) ordered by the
    in-doc position p — (id, p) is unique, so the sort is total and the
    result engine-independent. Overlapping AND adjacent gram hits merge
    into one span (a contiguous duplicated region has no gap)."""
    from pyspark.sql import Window

    df = table._require_df()
    if against is not None and against_grams is not None:
        raise ValueError("pass against= (raw docs) or against_grams= (prebuilt), not both")
    if against is None and against_grams is None and min_docs < 2:
        # self mode counts the document's OWN occurrence, so min_docs=1
        # would mark every span of every doc — a silent >=2 coercion
        # here would give the same argument two meanings across modes
        raise ValueError(
            "min_docs < 2 is degenerate in self mode (every gram occurs "
            "in its own document); use against=/against_grams= for "
            "any-corpus-occurrence marking"
        )
    if against_grams is not None:
        # prebuilt corpus gram set (span_gram_table, typically parquet-
        # imported): min_docs was baked in at build time; the probe is
        # the new batch's gram pass plus one semi-join on the stored set
        if "g" not in against_grams.fields:
            raise ValueError(
                "against_grams must have column 'g' (a span_gram_table "
                f"result); got {against_grams.fields}"
            )
        pos = _positioned_gram_rows(df, id_col, text_col, k, hash_keys)
        return _merge_marked_spans(
            pos.join(against_grams.df.select("g"), on="g", how="left_semi")
            .select(id_col, "p"),
            id_col,
            k,
            f"{table.table_name}_dup_spans",
        )
    # the corpus gram table (against=) is the asset reused across
    # incremental batches; in self mode it has two consumers (dup-gram
    # aggregation + mark-back semi-join), which would each re-run
    # tokenize + gram hashing, the measured majority of pipeline cost
    # (1.0s -> 0.33s steady-state at sf0.1)
    with scoped_persist("duplicate_spans") as scope:
        cpos = scope.persist(
            _positioned_gram_rows(
                df if against is None else against._require_df(),
                id_col, text_col, k, hash_keys,
            ),
            _PAIRGEN_CACHE,
        )
        scope.keep(cpos)
    pos = (
        cpos if against is None
        else _positioned_gram_rows(df, id_col, text_col, k, hash_keys)
    )
    if against is not None and min_docs <= 1:
        dup = cpos.select("g").distinct()
    elif min_docs <= 2:
        dup = (
            cpos.groupBy("g")
            .agg(F.min(id_col).alias("__a__"), F.max(id_col).alias("__b__"))
            .where(F.col("__a__") != F.col("__b__"))
            .select("g")
        )
    else:
        dup = (
            cpos.groupBy("g")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
            .where(F.col("__nd__") >= min_docs)
            .select("g")
        )
    marked = pos.join(dup, on="g", how="left_semi").select(id_col, "p")
    return _merge_marked_spans(marked, id_col, k, f"{table.table_name}_dup_spans")


def _merge_marked_spans(marked, id_col: str, k: int, name: str) -> Table:
    """Gap-and-islands merge of marked gram positions into maximal
    spans — per-document window on the total order (id, p)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    prev = F.lag("p").over(w)
    brk = F.when(prev.isNull() | (F.col("p") > prev + F.lit(k)), 1).otherwise(0)
    wsum = (
        Window.partitionBy(id_col)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn("__brk__", brk).withColumn(
        "__isl__", F.sum("__brk__").over(wsum)
    )
    out = (
        islands.groupBy(id_col, "__isl__")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        )
        .withColumn(
            "span_tokens", (F.col("span_end") - F.col("span_start") + 1).cast("bigint")
        )
        .drop("__isl__")
    )
    return Table.from_df(out, name=name)


def remove_duplicate_spans(
    table: Table,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    hash_keys: bool = True,
    against: Table | None = None,
    against_grams: Table | None = None,
) -> Table:
    """Cut every cross-document duplicate span (see ``duplicate_spans``)
    out of the text; returns (id, text) with the surviving tokens
    space-joined (whitespace is normalized — the tokenizer's view IS the
    output). NULL text is treated as '' (the engine-portable choice; a
    NULL would poison downstream token arithmetic — see pack_sequences).
    ``against`` cuts the INCREMENTAL spans instead (new-batch runs
    occurring in >= ``min_docs`` corpus docs — pass ``min_docs=1`` for
    any-occurrence); the corpus itself is never rewritten.

    Scale shape: the span table (docs-with-dups only, few rows per doc)
    is aggregated per doc and joined back to the corpus — AQE broadcasts
    it when small; the cut itself is a narrow positional array filter
    (two-arg lambda, whole-stage codegen), NOT a token-level
    explode+anti-join, so the corpus is never token-exploded a second
    time."""
    df = table._require_df()
    spans = duplicate_spans(
        table, text_col, id_col, k, min_docs, hash_keys, against,
        against_grams,
    ).df
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans__")
    )
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    joined = df.select(
        F.col(id_col),
        _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__tk__"),
    ).join(span_arr, on=id_col, how="left")
    covered = lambda x, i: F.exists(  # noqa: E731
        F.coalesce(F.col("__spans__"), empty),
        lambda s: ((i + 1) >= s["span_start"]) & ((i + 1) <= s["span_end"]),
    )
    out = joined.select(
        F.col(id_col),
        F.array_join(
            F.filter(F.col("__tk__"), lambda x, i: ~covered(x, i)), " "
        ).alias(text_col),
    )
    return Table.from_df(out, name=f"{table.table_name}_despanned")


def boilerplate_line_table(
    table: Table,
    text_col: str,
    id_col: str,
    min_docs: int = 2,
    sep: str = "\n",
) -> Table:
    """The corpus's boilerplate line set as a durable probe asset: a
    single column ``line`` with every line occurring in >= ``min_docs``
    distinct corpus documents (baked in at build time). Build once,
    ``parquet_export``, strip every future batch with
    ``line_dedup(new, ..., against_lines=lines)`` — the corpus text is
    never re-split. ``sep`` must match the probe call's."""
    frame = table._require_df().select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("__pos__", "__line__"),
    )
    if min_docs <= 1:
        bad = frame.select("__line__").distinct()
    elif min_docs == 2:
        bad = (
            frame.groupBy("__line__")
            .agg(F.min(id_col).alias("__a__"), F.max(id_col).alias("__b__"))
            .where(F.col("__a__") != F.col("__b__"))
            .select("__line__")
        )
    else:
        bad = (
            frame.groupBy("__line__")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
            .where(F.col("__nd__") >= min_docs)
            .select("__line__")
        )
    return Table.from_df(
        bad.select(F.col("__line__").alias("line")),
        name=f"{table.table_name}_boilerplate_lines",
    )


def line_dedup(
    table: Table,
    text_col: str,
    id_col: str,
    min_docs: int = 2,
    sep: str = "\n",
    join_sep: str | None = None,
    against: Table | None = None,
    against_lines: Table | None = None,
) -> Table:
    """Inter-document boilerplate line removal (CCNet / RefinedWeb
    style): drop every line that occurs verbatim in >= ``min_docs``
    DISTINCT documents (nav bars, cookie banners, license headers),
    reassemble the rest in order. Returns (id, text, n_lines_kept);
    documents whose every line is boilerplate drop out entirely (the
    standard curation policy — an empty doc is not training data).

    ``against`` switches to the INCREMENTAL ingestion shape: the
    boilerplate line set is learned from ``against`` (the existing
    corpus — ``min_docs`` counts ITS documents; pass ``min_docs=1`` to
    strip any line the corpus has seen) and applied to ``table`` (the
    new batch) only; the corpus line-frequency table is the persisted
    asset reused across successive batches. ``against_lines`` takes
    that line set PREBUILT (``boilerplate_line_table``, min_docs baked
    in at build time), so the corpus is not scanned at all.

    ``sep`` is a Java regex for splitting; ``join_sep`` (default: ``sep``
    verbatim) is the literal used to rejoin — pass both when the split
    pattern contains metacharacters.

    Scale shape (100 TB): one shuffle counts line frequencies (min!=max
    trick at min_docs=2, no count-distinct expansion), the anti-join
    back reuses the same hash partitioning on the line, and reassembly
    is one groupBy per doc whose sort (array_sort on the in-doc line
    ordinal — unique, total) happens inside the aggregated array, never
    as a global orderBy."""
    df = table._require_df()
    rejoin = sep if join_sep is None else join_sep

    def _lines(frame):
        return frame.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
            ).alias("__pos__", "__line__"),
        )

    def _bad(frame, threshold):
        if threshold <= 1:
            return frame.select("__line__").distinct()
        if threshold == 2:
            return (
                frame.groupBy("__line__")
                .agg(F.min(id_col).alias("__a__"), F.max(id_col).alias("__b__"))
                .where(F.col("__a__") != F.col("__b__"))
                .select("__line__")
            )
        return (
            frame.groupBy("__line__")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
            .where(F.col("__nd__") >= threshold)
            .select("__line__")
        )

    if against is not None and against_lines is not None:
        raise ValueError("pass against= (raw docs) or against_lines= (prebuilt), not both")
    if against_lines is not None:
        # prebuilt corpus line set (boilerplate_line_table, typically
        # parquet-imported): min_docs baked in at build time
        if "line" not in against_lines.fields:
            raise ValueError(
                "against_lines must have column 'line' (a "
                f"boilerplate_line_table result); got {against_lines.fields}"
            )
        lines = _lines(df)
        bad = against_lines.df.select(F.col("line").alias("__line__"))
    else:
        # the corpus side, or self-deduping the two consumers (frequency
        # aggregation + anti-join probe) of one frame: persist so the
        # split+explode runs once, same policy as the pair generators
        with scoped_persist("line_dedup") as scope:
            src = _lines(df if against is None else against._require_df())
            scope.keep(scope.persist(src, _PAIRGEN_CACHE))
        lines = src if against is None else _lines(df)
        bad = _bad(src, max(min_docs, 2) if against is None else min_docs)
    kept = lines.join(bad, on="__line__", how="left_anti")
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__line__"))),
                lambda s: s["__line__"],
            ),
            rejoin,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return Table.from_df(out, name=f"{table.table_name}_line_dedup")
