"""Plan-quality regression tests: the properties that make the engine
scale must survive refactors — asserted on the physical plan text."""

import contextlib
import io

from pyspark.sql import functions as F

from littletable_spark import Table, plan_shape


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _lint_codes(df) -> set[str]:
    from littletable_spark.plans.lint import lint_plan

    return {w.code for w in lint_plan(df)}


def test_where_pushes_filters_and_prunes_columns(spark):
    li = Table.parquet_import(spark, "/root/testdata/sf0.001/lineitem.parquet")
    t = li.where(l_quantity=Table.gt(30.0)).select("l_orderkey l_quantity")
    plan = _plan(t.df)
    assert "GreaterThan(l_quantity,30.0)" in plan  # pushed to the scan
    # read schema pruned to exactly the projected columns
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dimension_join_broadcasts(spark):
    c = Table.parquet_import(spark, "/root/testdata/sf0.001/customer.parquet")
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet")
    j = c.join(o, **{"c_custkey": "o_custkey"})
    assert "BroadcastHashJoin" in _plan(j.df)


def test_head_compiles_to_take_ordered(spark):
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet")
    o.orderby("o_totalprice desc")
    assert "TakeOrderedAndProject" in _plan(o.head(5).df)


def test_unique_has_no_global_window(spark):
    li = Table.parquet_import(spark, "/root/testdata/sf0.001/lineitem.parquet")
    u = li.unique(key="l_orderkey")
    plan = _plan(u.df)
    # keyed window, and Spark's group-limit optimization applies
    assert "WindowGroupLimit" in plan


def test_rank_has_no_single_partition_window(spark):
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet")
    o.orderby("o_totalprice desc, o_orderkey")
    o.rank("r")
    # dense indexing is a sort plus Spark's distributed sequence, never
    # row_number over an empty partition spec
    assert "single-partition-window" not in _lint_codes(o.df)
    assert "AttachDistributedSequence" in _plan(o.df)


def test_sketches_are_single_shuffle(spark):
    from littletable_spark.operators.dedup import _minhash_signature_df

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    sig = _minhash_signature_df(d.df, "doc_id", "text", 3, 8)
    import re

    plan = _plan(sig)
    # exactly one shuffle: the doc-id exchange is shared by the shingle
    # windows and the signature aggregation (formatted output lists each
    # node twice — count detail headers, not substring hits)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "Aggregate" in plan


def test_sql_interface(spark):
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet", "orders_v")
    res = o.query("SELECT o_orderstatus, count(*) AS n FROM {table} GROUP BY 1")
    assert sum(r.n for r in res) == 1500


def test_parquet_export_roundtrip(spark, tmp_path):
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/region.parquet")
    out = str(tmp_path / "region_out")
    o.parquet_export(out)
    back = Table.parquet_import(spark, out)
    assert sorted(r.r_name for r in back) == sorted(r.r_name for r in o)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned sink + partition pruning on read: a filter
    on the partition column must become a PartitionFilter (directory
    skip), not a data filter — at 100 TB this is the difference between
    scanning one partition and scanning the dataset."""
    li = Table.parquet_import(spark, "/root/testdata/sf0.001/lineitem.parquet")
    out = str(tmp_path / "li_part")
    li.parquet_export(out, partition_by="l_returnflag")
    back = Table.parquet_import(spark, out).where(l_returnflag="R")
    plan = _plan(back.df)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    expected = li.where(l_returnflag="R")
    assert len(back) == len(expected)


def test_streaming_session_demo(spark):
    from littletable_spark.streaming import load_events, sessionize
    from littletable_spark.streaming.events import streaming_session_demo

    path = "/root/testdata/sf0.001/events.parquet"
    batch = sessionize(load_events(spark, path), 1800, "user_id")
    streamed = streaming_session_demo(spark, path, 1800, "user_id")
    # same number of (user, session) groups from both engines' paths
    assert streamed.count() == len(batch)


def test_asof_join_is_not_nested_loop(spark):
    """The as-of join must compile to a union + keyed window, never a
    range-condition nested-loop/cartesian join — at scale the latter is
    O(N*M) per key pair."""
    from littletable_spark.operators.joins import asof_join

    li = Table.parquet_import(spark, "/root/testdata/sf0.001/lineitem.parquet")
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet")
    li.compute_field("ship_sec", F.unix_timestamp("l_shipdate").cast("long"))
    o.compute_field("order_sec", F.unix_timestamp("o_orderdate").cast("long"))
    j = asof_join(li, o, "ship_sec", "order_sec", by={"l_suppkey": "o_custkey"})
    plan = _plan(j.df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_candidate_join_is_hash_join(spark):
    """LSH top-k's candidate generation must be an equi-join on the
    signature (hash join), not a nested loop over all pairs."""
    from littletable_spark.operators.similarity import lsh_topk

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(vec_id=Table.lt(3))
    out = lsh_topk(e, q, "vec_id", "embedding", k=5, n_planes=4, dim=64)
    plan = _plan(out.df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the sig equi-join is a real hash join


def test_consecutive_runs_has_no_global_window(spark):
    """Run detection must stay distributed (two distributed sequences),
    never a single-partition Window.orderBy with empty partition spec."""
    from littletable_spark.operators.grouping import consecutive_runs

    t = Table("runs", spark=spark)
    t.insert_many([{"k": i % 3, "v": i} for i in range(50)])
    out = consecutive_runs(t, "k", order_by="v", n=F.count(F.lit(1)))
    assert "single-partition-window" not in _lint_codes(out.df)
    assert "AttachDistributedSequence" in _plan(out.df)


def test_pipeline_projections_have_no_shuffle(spark):
    """chunking / PII scrub / repetition / hash sampling are pure narrow
    plans — scan-speed at 100 TB, no Exchange anywhere."""
    from littletable_spark.operators.sampling import sample_hash
    from littletable_spark.operators.textops import (
        chunk_documents,
        repetition_score,
        scrub_pii,
    )

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    for out in (
        chunk_documents(d, "text", "doc_id", chunk_tokens=16),
        scrub_pii(d, "text", "doc_id"),
        repetition_score(d, "text", "doc_id"),
        sample_hash(d, "doc_id", 0.25),
    ):
        plan = _plan(out.df)
        assert "Exchange" not in plan, plan


def test_sample_fixed_is_take_ordered(spark):
    """fixed-k minwise sampling must compile to TakeOrderedAndProject
    (per-partition top-k + k-row driver merge), not a global sort."""
    from littletable_spark.operators.sampling import sample_fixed

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    plan = _plan(sample_fixed(d, "doc_id", 20).df)
    assert "TakeOrderedAndProject" in plan


def test_ivf_topk_two_arrow_passes(spark):
    """IVF's plan shape is exactly two Arrow passes: centroid
    assignment and BLAS re-rank. Pinned by A/B measurement (round 6):
    folding assignment into a native F.expr of nlist x dim literals
    (the lsh_signature trick) measured 2.46s vs 1.79s end-to-end at
    sf0.1 — ~1024 interpreted multiply-adds per row lose to one numpy
    matmul by more than the Arrow round-trip costs. If this count
    changes, re-run that A/B before accepting the new shape."""
    from littletable_spark.operators.similarity import ivf_topk

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    q = Table.from_df(e.df.where("vec_id < 3"))
    df = ivf_topk(e, q, "vec_id", "embedding", k=5).df
    shape = plan_shape(df)
    assert shape.get("MapInPandas") == 2, shape


def test_ivf_topk_stored_index_single_pass_no_join(spark, tmp_path):
    """against_index= over a persisted index is exactly ONE Arrow pass
    (the masked broadcast-query re-rank) and NO join: assignment is
    read from the stored asset, the query matrix lives in the task
    closure, and only (query_id, corpus_id, cosine) scalars reach the
    top-k shuffle. Pinned by A/B (round 7): the previous broadcast
    pair-join rerank carried both dense vectors per candidate through
    a second Arrow pass — 3.9s vs 2.7s end-to-end at sf0.1 for the
    build+extend+search pipeline, bit-identical output."""
    from littletable_spark.operators.similarity import (
        ivf_index_table,
        ivf_topk,
    )

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ivf")
    ivf_index_table(e, "vec_id", "embedding", nlist=4, seed=1).df.write.parquet(p)
    stored = Table.parquet_import(spark, p)
    q = Table.from_df(e.df.where("vec_id < 3"))
    df = ivf_topk(
        e, q, "vec_id", "embedding", k=5, nprobe=2, against_index=stored
    ).df
    shape = plan_shape(df)
    assert shape.get("MapInPandas") == 1, shape
    assert not [op for op in shape if "Join" in op], shape


def test_duplicate_spans_reads_grams_from_cache(spark):
    """The span pipeline's two gram consumers must read the persisted
    positioned-gram table, not re-run tokenize+hash per consumer
    (pinned by A/B: 1.0s -> 0.33s steady-state at sf0.1). Both the
    dup-gram aggregation branch and the mark-back join branch should
    scan InMemoryTableScan once the intermediate is materialized."""
    from littletable_spark.operators.dedup import duplicate_spans

    t = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    df = duplicate_spans(t, "text", "doc_id", k=5).df
    df.count()  # materialize the persist
    shape = plan_shape(df)
    assert shape.get("InMemoryTableScan", 0) >= 2, shape


def test_semantic_pairs_plan_shape(spark):
    """Internal-clustering SemDeDup is exactly two Arrow passes (assign
    carrying the vectors, block-pair matmul emit) and NO corpus join —
    pinned by A/B (round 6): a pair equi-join + per-pair JVM cosine
    fold measured 6.3s vs ~1.1s at sf0.1's ~250k candidates, and an
    assignment-then-join variant adds a second corpus scan + shuffle.
    If the MapInPandas count changes, re-run those A/Bs first."""
    import re

    from littletable_spark.operators.dedup import semantic_dup_pairs

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    df = semantic_dup_pairs(
        e, "vec_id", "embedding", threshold=0.3, init_ids=[0, 1], train_iters=0
    ).df
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the persisted assign relation is PRINTED under every cached scan,
    # so count distinct Arrow functions, not text occurrences
    fns = set(re.findall(r"MapInPandas (\w+)\(", plan))
    assert fns == {"assign", "emit"}, plan
    # the assign pass is computed once behind an InMemoryRelation cache
    assert "InMemoryTableScan" in plan_shape(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pq_search_plan_shape(spark, tmp_path):
    """PQ stored-index search: the code scan carries the static probed-
    cluster filter (partition-prunable), the ONLY join is the broadcast
    of the bounded candidate list onto the corpus (exact re-rank), and
    no full-vector column is read from the index."""
    from littletable_spark.operators.similarity import (
        ivf_index_table,
        ivf_topk,
    )

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "pq")
    ivf_index_table(
        e, "vec_id", "embedding", nlist=4, pq_m=8, pq_ksub=16, seed=1
    ).df.write.parquet(p)
    stored = Table.parquet_import(spark, p)
    q = Table.from_df(e.df.where("vec_id < 3"))
    df = ivf_topk(
        e, q, "vec_id", "embedding", k=5, nprobe=2,
        against_index=stored, rerank=20,
    ).df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "cluster" in plan and " IN " in plan.upper() or "cluster#" in plan, plan
    shape = plan_shape(df)
    assert shape.get("BroadcastHashJoin") == 1, shape  # candidate fetch only
    assert "SortMergeJoin" not in shape, shape
    # the ADC pass reads codes, never cvec (the index has none)
    assert "cvec" not in plan, plan


def test_apply_bpe_is_single_arrow_pass_no_shuffle(spark):
    from littletable_spark.operators.bpe import apply_bpe, train_bpe

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    merges = train_bpe(d, "text", num_merges=10, max_words=500)
    df = apply_bpe(d, "text", "doc_id", merges).df
    shape = plan_shape(df)
    assert shape.get("MapInPandas") == 1, shape
    assert not [op for op in shape if "Exchange" in op], shape


def test_chunk_by_pieces_is_narrow(spark):
    from littletable_spark.operators.bpe import (
        apply_bpe,
        chunk_by_pieces,
        train_bpe,
    )

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    merges = train_bpe(d, "text", num_merges=10, max_words=500)
    pieces = apply_bpe(d, "text", "doc_id", merges, emit_pieces=True)
    df = chunk_by_pieces(pieces, "pieces", "doc_id", chunk_tokens=32).df
    shape = plan_shape(df)
    # chunking adds NO exchange beyond the tokenize pass's plan
    assert not [op for op in shape if "Exchange" in op], shape
    assert "Generate" in shape, shape  # posexplode row amplification


def test_url_features_plan_is_narrow(spark):
    """url_features is a pure projection: no Exchange, no Python, and
    only the consumed columns reach the scan."""
    from littletable_spark.operators.urlops import url_features

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field("url", F.concat(F.lit("https://x.com/"), F.col("doc_id").cast("string")))
    out = url_features(d, "url")
    plan = _plan(out.df.select("doc_id", "domain", "path_depth"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_corpus_report_single_shuffle(spark):
    """corpus_report = one projection + ONE map-combined groupBy: a
    single Exchange, partial aggregation before it."""
    import re

    from littletable_spark.operators.stats import corpus_report

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    plan = _plan(corpus_report(d, "text").df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "partial" in plan.lower(), plan


def test_pack_token_ids_no_second_shuffle(spark):
    """The (shard, pack) aggregation reuses the shard hash partitioning
    from pack_sequences' window: exactly ONE data Exchange in the whole
    pack-and-concatenate plan (plus the broadcast for the ids join)."""
    import re

    from littletable_spark.operators.bpe import pack_token_ids
    from littletable_spark.operators.textops import pack_sequences

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    packed = pack_sequences(d, "text", "doc_id", budget_tokens=256, n_shards=8)
    ids = d.df.selectExpr(
        "doc_id",
        "transform(filter(split(trim(coalesce(text, '')), '\\\\s+'), x -> x != ''), t -> length(t)) AS token_ids",
    )
    joined = packed.df.select("doc_id", "shard", "pack").join(ids, "doc_id")
    out = pack_token_ids(Table.from_df(joined, name="j"), "doc_id")
    plan = _plan(out.df)
    data_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    broadcasts = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
    assert data_exchanges == 1, plan
    assert broadcasts == 1, plan  # the ids join broadcasts, not shuffles


def test_canonicalize_urls_plan_is_narrow(spark):
    """canonicalize_urls is a pure projection: no Exchange, no Python
    UDF — the frontier key computes inside the scan's codegen stage."""
    from littletable_spark.operators.urlops import canonicalize_urls

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field(
        "url", F.concat(F.lit("https://x.com/"), F.col("doc_id").cast("string"))
    )
    out = canonicalize_urls(d, "url")
    plan = _plan(out.df.select("doc_id", "canon_url"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_url_features_psl_table_joins_broadcast(spark):
    """The psl= Table form adds exactly one BROADCAST join (suffix
    list is list-sized) — never a shuffled join of the corpus."""
    from littletable_spark.operators.urlops import url_features

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field(
        "url", F.concat(F.lit("https://x.co.uk/"), F.col("doc_id").cast("string"))
    )
    psl = Table("psl", spark=spark)
    psl.insert_many([{"suffix": "co.uk"}])
    out = url_features(d, "url", psl=psl)
    plan = _plan(out.df.select("doc_id", "domain"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_by_robots_plan_shape(spark):
    """filter_by_robots: the rules join is a pure EQUI-join on the
    exploded host-suffix chain — NEVER a nested-loop or cartesian
    (those are O(corpus × total_rules) and require broadcasting a
    potentially web-crawl-sized rules table). The verdict fold is a
    partially-aggregated groupBy on the deterministic content key
    (host, path-and-query) — never a synthesized ordinal."""
    from littletable_spark.operators.robots import filter_by_robots, parse_robots

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field(
        "url", F.concat(F.lit("https://x.com/p/"), F.col("doc_id").cast("string"))
    )
    rt = Table("r", spark=spark)
    rt.insert_many([{"domain": "x.com", "txt": "User-agent: *\nDisallow: /no\n"}])
    rules = parse_robots(rt, "txt", "domain")
    plan = _plan(filter_by_robots(d, rules, "url").df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    import re

    parts = re.findall(r"hashpartitioning\((\w+)", plan)
    # every exchange keys on the join/agg columns: the suffix↔domain
    # equi-join, the content-keyed verdict fold, and the verdict
    # join-back — and NEVER a nondeterministic ordinal
    assert all(
        p in ("__host__", "__path__", "__rdom__", "__hsuf__") for p in parts
    ), plan
    from littletable_spark.plans.lint import lint_plan

    codes = [w.code for w in lint_plan(filter_by_robots(d, rules, "url").df)]
    assert "nondeterministic-ordinal-join" not in codes, codes
    # map-side partial aggregation before the verdict shuffle
    assert "partial_max" in plan or "HashAggregate" in plan, plan


def test_extract_links_plan_no_shuffle_no_row_filter(spark):
    """extract_links: projection + ONE generate, zero exchanges — and
    the validity filter lives INSIDE the array (filter() HOF), never
    as a row-level Filter node. A row Filter would be pushed through
    the projection and re-evaluate the ~20-regexp resolution CASE per
    link (double work, and the fused consume method blows janino's
    64 KB ceiling — the whole stage silently drops out of codegen)."""
    from littletable_spark.operators.urlops import extract_links

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field(
        "html",
        F.concat(F.lit('<a href="/p/'), F.col("doc_id").cast("string"),
                 F.lit('">x</a>')),
    )
    d.compute_field(
        "url", F.concat(F.lit("https://x.com/d/"), F.col("doc_id").cast("string"))
    )
    out = extract_links(d, "html", "url", "doc_id")
    plan = _plan(out.df)
    import re

    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    # no row-level Filter: validity is applied inside the link array
    assert not re.findall(r"\(\d+\) Filter", plan), plan


def test_extract_canonical_plan_is_pure_projection(spark):
    """extract_canonical: one narrow projection — no explode, no
    shuffle, no Python."""
    from littletable_spark.operators.urlops import extract_canonical

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    d.compute_field("html", F.lit('<link rel="canonical" href="/c">'))
    d.compute_field("url", F.lit("https://x.com/d/p"))
    out = extract_canonical(d, "html", "url", "doc_id")
    plan = _plan(out.df)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan
