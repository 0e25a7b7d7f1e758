"""Physical-plan audits: the properties that make the engine viable at
100 TB — bounded shuffle count, parquet filter/column pushdown, broadcast
joins for dimensions — asserted on the actual executed plans so
regressions fail loudly."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from reading_the_unreadable_spark import synth
from reading_the_unreadable_spark.plans.pipeline import extract, extract_nested
from reading_the_unreadable_spark.sources.docs import docs_from_rows

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_shuffle_count(spark):
    docs = docs_from_rows(spark, synth.make_corpus(20))
    plan = _plan(extract(docs, num_partitions=8))
    n_exchanges = len(re.findall(r"Exchange (hash|round)", plan))
    # 1 input rebalance + 1 doc_id hash for windows + 1 post-UDF re-hash
    assert n_exchanges <= 3, f"extract plan has {n_exchanges} exchanges:\n{plan[:2000]}"
    # one article path: exactly the geometry attach and the fused fold
    # cross into Python, and no row-at-a-time or Arrow-eval UDF stage
    n_maps = len(re.findall(r"\bMapInPandas\b", plan))
    assert n_maps == 2, f"extract plan has {n_maps} MapInPandas:\n{plan[:2000]}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:2000]


def test_extract_plan_builds_with_few_py4j_round_trips(spark, monkeypatch):
    """Every Column node a plan is built from costs several Python→JVM
    round trips (``F.col`` 13, a 16-field aliased ``struct`` 455).  The
    layout layers, the geometry and payload projections, the merge-order
    sort and the re-nest are SQL expression strings: a warm
    ``extract_nested`` build sent 4 651 non-memory py4j commands with
    Column objects everywhere, 984 with SQL-string layout layers only,
    and 553 now."""
    from py4j.clientserver import ClientServerConnection

    docs = docs_from_rows(spark, synth.make_corpus(20))
    extract_nested(docs, num_partitions=8)  # warm: imports, JVM class lookups
    sent: list[str] = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\n"):  # memory/GC commands
            sent.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    extract_nested(docs, num_partitions=8)
    monkeypatch.undo()
    assert 0 < len(sent) <= 640, len(sent)


def test_parquet_filter_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= "2001-09-01").select("l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "l_quantity:double",
        "l_shipdate:timestamp_ntz",
    }, plan[:1500]


def test_dimension_joins_broadcast(spark):
    df = entrymod.q_region_revenue(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_semi_anti_join_strategies(spark):
    semi = _plan(entrymod.q_active_suppliers(spark, SF))
    anti = _plan(entrymod.q_customers_without_orders(spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_no_cartesian_products(spark):
    """Dedup/similarity must never fall back to a cross join (the single
    intentional 1-row broadcast in cosine_topk is allowed)."""
    for name in ("minhash_lsh", "ngram_jaccard", "ann_lsh"):
        plan = _plan(entrymod.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_minhash_verify_join_is_candidate_bounded(spark):
    """The true-Jaccard verify stage must never self-join shingles
    globally: every join whose keys include `shingle` must also key on a
    doc id (doc_b), so hot shingles cost O(k), not O(k²)."""
    plan = _plan(entrymod.q_minhash_lsh(spark, SF))
    join_lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", ln)
        and "shingle" in ln
    ]
    assert join_lines, "expected a shingle-keyed verify join in the plan"
    for ln in join_lines:
        key_part = ln.split("Join")[1]
        assert re.search(r"doc_[ab]", key_part), f"shingle join not doc-bounded: {ln}"


def _big_vocab_docs(spark, n=40):
    """A corpus whose vocabulary exceeds the 61-token bitset cap, so the
    pair operators route to their generic (banded / prefix-filter)
    engines — the shapes these plan audits pin."""
    rows = [
        (
            i,
            " ".join(f"w{i % 7}_{j}" for j in range(12)),
            "en" if i % 2 == 0 else "de",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ngram_join_is_size_banded(spark):
    """GENERIC path (vocabulary > the bitset cap): the ngram pair join
    must carry the token-count band in its equi keys (bounded pair
    space), not just the low-cardinality lang bucket."""
    from reading_the_unreadable_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    plan = _plan(ngram_jaccard_pairs(_big_vocab_docs(spark), threshold=0.9))
    join_lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", ln)
        and "bucket" in ln
    ]
    assert join_lines, "expected the bucketed pair join in the plan"
    assert any("band" in ln for ln in join_lines), join_lines


def test_ngram_replication_bounded(spark):
    """GENERIC path: the ngram probe side may be replicated ONLY by the
    ±1 band explode (3×, algorithmically required) — no salt explode:
    the plan must contain no salt column, and the only Generate over
    the token frame expands a 3-element array."""
    from reading_the_unreadable_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    plan = _plan(ngram_jaccard_pairs(_big_vocab_docs(spark), threshold=0.9))
    assert "salt" not in plan, "salt replication reintroduced"
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    # one explode on the b side (band array); no sequence(0, salt) explode
    assert len(gen_lines) == 1, gen_lines
    assert "sequence" not in gen_lines[0], gen_lines[0]


def test_ngram_bitset_path_no_token_arrays(spark):
    """BITSET path (bench corpus: 31-token vocabulary): the pair join
    runs at the distinct-bitmask grain — no token arrays may cross any
    exchange, no cartesian, and verification is popcount (bit_count),
    never array_intersect."""
    plan = _plan(entrymod.q_ngram_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "array_intersect" not in plan
    assert "bit_count" in plan
    exch = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert not any("toks" in ln for ln in exch), exch


def test_dedup_no_storage_cache(spark):
    """Corpus-scale intermediates must not be pinned with .cache():
    InMemoryTableScan must not appear in any dedup plan (the reuse
    boundary is scratch parquet instead)."""
    for name in ("minhash_lsh", "ngram_jaccard", "simhash_pairs"):
        plan = _plan(entrymod.queries()[name](spark, SF))
        assert "InMemoryTableScan" not in plan, name


def test_para_dedup_two_exchanges(spark):
    """Corpus-wide paragraph dedup: exactly the fingerprint window
    exchange + the doc reassembly exchange — nothing else."""
    plan = _plan(entrymod.q_para_dedup(spark, SF))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 2, f"{n} hash exchanges:\n{plan[:1500]}"
    assert "CartesianProduct" not in plan


def test_quality_map_ops_zero_shuffle(spark):
    """C4 line filters, Gopher signals, and the blocklist gate stream
    map-side over the scan (higher-order array functions, no explode).
    The ONLY exchange allowed is the conditional round-robin rebalance
    of an under-split scan (the test SF dir is a 1-file table, so it
    fires here; on a well-split table it is a no-op — second loop)."""
    for name in ("c4_filters", "gopher_signals", "blocklist_filter"):
        plan = _plan(entrymod.queries()[name](spark, SF))
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
    # on a well-split file scan the rebalance is a no-op (pure map plan)
    import tempfile as _tf

    from reading_the_unreadable_spark.operators.quality import (
        c4_line_filters,
    )

    with _tf.TemporaryDirectory() as tmp:
        n = spark.sparkContext.defaultParallelism
        (
            spark.read.parquet(f"{SF}/documents.parquet")
            .repartition(n)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        plan = _plan(c4_line_filters(spark.read.parquet(tmp)))
        assert "Exchange" not in plan, plan[:1500]


def test_window_topk_no_global_window_on_full_data(spark):
    """cosine_topk must use TakeOrdered (distributed top-k), not a
    single-partition window over the full table."""
    plan = _plan(entrymod.q_cosine_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def _unpartitioned_window_nodes(plan: str) -> list[str]:
    """Window specs whose args carry no partition column: partition cols
    print as bare `col#id`, order cols as `col#id ASC/DESC ...`, so a
    spec starting with an ordered column (or starting directly at the
    frame) is unpartitioned."""
    out = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan):
        head = m.group(1).strip().rstrip(",").strip()
        first = head.split(",")[0] if head else ""
        if not head or " ASC" in first or " DESC" in first:
            out.append(m.group(0)[:100])
    return out


def test_unpartitioned_windows_only_post_limit(spark):
    """Every unpartitioned window in the query surface must operate on a
    size-bounded post-limit frame (GlobalLimit / TakeOrdered in the same
    plan) — never on full data.  This is the invariant that makes the
    suppressed WindowExec single-partition warning cosmetic."""
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, SF))
        bad = _unpartitioned_window_nodes(plan)
        if bad:
            assert (
                "GlobalLimit" in plan or "TakeOrderedAndProject" in plan
            ), f"{name}: unpartitioned window without a limit: {bad[0]}"


def test_extract_sorts_never_touch_text(spark):
    """Narrow-row discipline, asserted on the physical plan: no Sort
    operator in the production extract plan may include the text payload
    in its input ordering — text is sorted zero times by the JVM."""
    docs = docs_from_rows(spark, synth.make_corpus(20))
    plan = _plan(extract(docs, num_partitions=8))
    sort_lines = [ln for ln in plan.splitlines() if ln.strip().startswith(("Sort ", "+- Sort ", ":- Sort "))]
    offenders = [ln for ln in sort_lines if re.search(r"\btext#", ln.split("],")[0])]
    assert not offenders, offenders


@pytest.mark.parametrize("name", ["pricing_summary", "region_revenue"])
def test_partial_aggregation(spark, name):
    """Map-side combine: HashAggregate appears in partial+final pairs."""
    plan = _plan(entrymod.queries()[name](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_skew_partition_balance(spark):
    """Skew audit: with the 50x-span XL broadsheet tail in the corpus, the
    doc_id hash exchange must still balance SPAN counts across partitions
    (docs are indivisible for the per-doc windows, so balance comes from
    doc-count law-of-large-numbers + hash spreading of the XL tail)."""
    from reading_the_unreadable_spark.operators.geometry import docs_to_geo_boxes
    from reading_the_unreadable_spark.sources.docs import docs_from_rows

    docs = docs_from_rows(spark, synth.make_corpus(400, seed_tag="skew"))
    boxes = docs_to_geo_boxes(docs, num_partitions=8).repartition(8, "doc_id")
    sizes = [
        r["n"]
        for r in boxes.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(sizes) == 8
    mean = sum(sizes) / len(sizes)
    # every partition within 2x of the mean despite the heavy tail
    assert max(sizes) < 2 * mean, sizes


def test_pack_sequences_subsharded(spark):
    """The packing window must partition on (part, shard) — source alone
    would serialize each source into one running-sum task at corpus
    scale (the realistic corpus has a handful of sources)."""
    plan = _plan(entrymod.q_pack_sequences(spark, SF))
    m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert m is not None, plan[:1500]
    assert "part" in m.group(1) and "shard" in m.group(1), m.group(1)


def test_lm_scoring_probe_preaggregated(spark):
    """The LM-score joins must probe with PRE-AGGREGATED per-doc counts,
    not the raw Zipf-skewed token stream: the executed plan must contain
    a HashAggregate keyed on (doc_id, word) / (doc_id, prev, cur)
    upstream of the join."""
    plan = _plan(entrymod.q_unigram_logprob(spark, SF))
    assert re.search(r"HashAggregate\(keys=\[doc_id#\d+L?, word#\d+", plan), (
        plan[:2000]
    )
    plan = _plan(entrymod.q_bigram_logprob(spark, SF))
    assert re.search(
        r"HashAggregate\(keys=\[doc_id#\d+L?, prev#\d+, cur#\d+", plan
    ), plan[:2000]


def test_fill_chain_adds_no_exchange(spark):
    """The in-chain gap fill must not cost a shuffle: F.inline over a
    struct carrying doc_id would emit a NEW doc_id attribute, drop the
    hashpartitioning(doc_id) property, and re-exchange the whole box
    frame (measured: ~24% wall at local[8], scaling efficiency
    0.89 -> 0.70).  Fill and no-fill chains must have identical
    exchange counts."""
    docs = docs_from_rows(spark, synth.make_corpus(20))
    n_ex = {
        fill: len(re.findall(r"Exchange ", _plan(extract(docs, num_partitions=8, fill_columns=fill))))
        for fill in (False, True)
    }
    assert n_ex[True] == n_ex[False], n_ex


def test_snapshot_read_pushdown_and_union_shape(spark, tmp_path):
    """Snapshot reads stay ordinary parquet scans: filters and column
    pruning reach the scan through the manifest indirection, a
    single-schema table plans exactly ONE scan (no union overhead),
    and an evolution window plans one scan per schema under a Union."""
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    append_snapshot(docs_from_rows(spark, synth.make_corpus(8)), root)
    append_snapshot(docs_from_rows(spark, synth.make_corpus(5, seed_tag="b")), root)

    df = read_snapshot(spark, root).filter(F.col("doc_id") == "x").select("doc_id")
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1, plan[:1500]
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,x)]" in plan, plan[:1500]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "doc_id:string", plan[:1500]

    # schema evolution: two schema groups -> two scans under a Union
    evolved = docs_from_rows(spark, synth.make_corpus(3, seed_tag="c")).withColumn(
        "source_rank", F.lit(1)
    )
    append_snapshot(evolved, root)
    plan2 = _plan(read_snapshot(spark, root).select("doc_id"))
    assert plan2.count("FileScan parquet") == 2, plan2[:2000]
    assert "Union" in plan2, plan2[:2000]


def test_ann_quantized_plan_and_recall(spark):
    """Quantized ANN keeps the cosine_topk plan shape (broadcast probe,
    TakeOrdered, no cartesian beyond the 1-row broadcast) and its top-k
    strongly overlaps the exact top-k (int8 rounding error only)."""
    from reading_the_unreadable_spark.operators.similarity import (
        ann_quantized_topk,
        cosine_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ann_quantized_topk(emb)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    exact = {r["vec_id"] for r in cosine_topk(emb).collect()}
    quant = {r["vec_id"] for r in df.collect()}
    assert len(exact & quant) >= 8, (exact, quant)


def test_zorder_rewrite_plan_jvm_only(spark, tmp_path):
    """The Morton-curve clustering rewrite stays JVM-side: the z-value
    is pure shift/AND/OR expressions (no Python UDF, no RDD), the
    cluster write range-partitions on it, and the rewrite plans one
    exchange for the range partitioning — nothing is collected."""
    from reading_the_unreadable_spark.sources.snapshots import (
        _zorder_column,
        append_snapshot,
    )

    grid = spark.range(512).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 16).alias("x"),
        (F.col("id") / 16).cast("long").alias("y"),
    )
    z = _zorder_column(["x", "y"], {"x": (0, 15), "y": (0, 31)}, bits=16)
    clustered = (
        grid.withColumn("__z", z)
        .repartitionByRange(4, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    plan = _plan(clustered)
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in plan, plan[:1500]
    # and the z expression itself is bit ops inside the projection
    assert "shiftleft" in plan.lower() or "<<" in plan, plan[:1500]


def test_winnow_no_serial_filter_pushdown(spark):
    """The InferFiltersFromGenerate trap (SURVEY §30): no Filter node
    may contain the md5 gram expression — the inferred size()>0 filter
    must stay a cheap IS NOT NULL above the Generate, never a
    substituted copy of the whole fingerprint computation running on
    the pre-rebalance scan task."""
    import io
    from contextlib import redirect_stdout

    from reading_the_unreadable_spark.operators.dedup import winnow_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    buf = io.StringIO()
    with redirect_stdout(buf):
        winnow_pairs(docs).explain(True)
    txt = buf.getvalue()
    optimized = txt.split("== Optimized Logical Plan ==")[1]
    for line in optimized.splitlines():
        if "Filter" in line:
            assert "md5" not in line, line[:300]
            assert "transform" not in line, line[:300]


def test_star_rounds_never_join_edges_to_edges(spark):
    """Each contraction round of connected_components is groupBy-min +
    an equi-join of edges to per-node minima keyed on the node id —
    never an edge×edge join (a super-node must cost O(k), not O(k²)),
    never a cartesian."""
    from reading_the_unreadable_spark.operators.dedup import (
        _large_star,
        _small_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (3, 2), (9, 4)], "u long, v long"
    )
    for round_fn in (_large_star, _small_star):
        plan = _plan(round_fn(edges))
        assert "CartesianProduct" not in plan, plan[:1500]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
        join_lines = [
            ln
            for ln in plan.splitlines()
            if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", ln)
        ]
        assert join_lines, "expected the mins equi-join in the plan"
        for ln in join_lines:
            assert re.search(r"\bu#\d+L?\b", ln.split("Join")[1]), (
                f"round join not keyed on the node id: {ln}"
            )


def test_warc_pipeline_is_shuffle_free(spark):
    """documents → warc blobs → parsed records → scalars is two
    mapInPandas stages and projections: ZERO exchanges — at crawl scale
    the archive file is the split unit and nothing re-shuffles."""
    df = entrymod.q_warc_extract(spark, SF)
    plan = _plan(df)
    assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, plan[:2000]
    assert plan.count("MapInPandas") == 2, plan[:2000]


def test_archive_pipeline_is_shuffle_free(spark):
    """documents → zip/tar.gz blobs → parsed members → scalars is two
    mapInPandas stages and projections: ZERO exchanges — the archive
    file is the split unit, members explode executor-side."""
    df = entrymod.q_archive_extract(spark, SF)
    plan = _plan(df)
    assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, plan[:2000]
    assert plan.count("MapInPandas") == 2, plan[:2000]


def test_docx_epub_pipelines_are_shuffle_free(spark):
    """documents → container blobs → exploded spans/chapters → scalars
    is two mapInPandas stages and projections: ZERO exchanges — the
    .docx/.epub file is the split unit, spans explode executor-side."""
    for q in (entrymod.q_docx_extract, entrymod.q_epub_extract):
        plan = _plan(q(spark, SF))
        assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, (
            plan[:2000]
        )
        assert plan.count("MapInPandas") == 2, plan[:2000]


def test_latex_and_code_filters_stay_jvm_side(spark):
    """The arXiv strip, the Wikipedia strip, and the StarCoder stats are
    ONE projection each: zero exchanges and zero Python crossings —
    regexp/higher-order funcs only, so they ride inside whole-stage
    codegen at any scale."""
    for q in (
        entrymod.q_latex_strip,
        entrymod.q_wiki_extract,
        entrymod.q_markdown_extract,
        entrymod.q_code_filters,
    ):
        plan = _plan(q(spark, SF))
        assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, (
            plan[:2000]
        )
        for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert marker not in plan, (marker, plan[:2000])


def test_dsir_ratio_join_is_broadcast(spark):
    """The 64-row bucket→log-ratio table must broadcast back onto the
    (doc, bucket) counts — shuffling the corpus side against a
    config-sized dim is the classic scale mistake."""
    from reading_the_unreadable_spark.operators.quality import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dsir_weights(docs))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    # the gram array is exploded with the outer variant so the
    # InferFiltersFromGenerate substitution (SURVEY §30) cannot push a
    # recomputed md5 chain below the exchange
    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen and all("explode_outer" in ln or "true" in ln for ln in gen), gen


def test_bm25_query_side_broadcast_and_bounded(spark):
    """BM25's scale contract: the query/term-stat side is BROADCAST
    (≥3 BroadcastHashJoins: qterms prune, qterms candidate join,
    term_df join-back), the corpus-stat cross join is a broadcast
    nested loop over ONE row — never a CartesianProduct — and the
    Zipf term key is never the partition key of a shuffle."""
    plan = _plan(entrymod.q_bm25(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "CartesianProduct" not in plan
    # bare-term hash exchanges are allowed only for QUERY-BOUNDED
    # frames (the qterm distinct and the broadcast-pruned term_df agg,
    # both ≤ |query terms| after partial aggregation) — the corpus
    # itself only ever shuffles on (doc_id, term) or doc_id
    bare_term = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "term" in ln
        and "doc_id" not in ln
        and "query_id" not in ln
    ]
    assert len(bare_term) <= 2, bare_term


def test_tfidf_df_join_not_forced_broadcast(spark):
    """tf-idf joins the FULL vocabulary df table — at web scale that
    side is ~1e9 terms, so the plan must not hard-pin a broadcast
    (ResolvedHint); AQE may still pick one at toy scale.  Probe side
    is the collapsed (doc, term) tf table: the explode output is
    aggregated before any join."""
    from reading_the_unreadable_spark.operators.retrieval import (
        tfidf_top_terms,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = tfidf_top_terms(docs)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly one broadcast hint: the 1-row n_docs frame
    assert logical.count("ResolvedHint") <= 1, logical[:2000]
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # partial aggregation collapses (doc, term) before the df join
    assert "HashAggregate" in plan


def test_pmi_topk_is_take_ordered(spark):
    """PMI's top-k must run as TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a global Sort of the whole
    scored bigram table; the only keyless join is the broadcast of the
    1-row bigram-total frame."""
    from reading_the_unreadable_spark.operators.textstats import (
        pmi_collocations,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pmi_collocations(docs))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    # no exchange introduced by a global orderBy: Sort appears only
    # inside TakeOrdered, so no "Exchange rangepartitioning"
    assert "rangepartitioning" not in plan, plan[:2000]


def test_kn_raw_corpus_never_rescanned(spark):
    """Kneser-Ney: the raw text is consumed only inside the eager
    stage-boundary job (once); the returned plan reads scratch parquet
    exclusively — a lineage that re-derived each KN statistic from the
    raw corpus measured 10 raw scans with zero exchange reuse in the
    final AQE plan.  Scratch reads stay column-pruned and nothing
    cartesian sneaks in via the keyless 1-row type-count join."""
    from reading_the_unreadable_spark.operators.quality import (
        kneser_ney_logprob,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(kneser_ney_logprob(docs))
    assert "CartesianProduct" not in plan
    scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert scan_lines and not any(
        "documents" in ln for ln in scan_lines
    ), f"raw corpus rescanned:\n{plan[:2000]}"
    # the text column never reaches any post-boundary scan
    assert "text" not in "".join(scan_lines)


def test_eval_metrics_grams_never_shuffle(spark):
    """BLEU/ROUGE/chrF run on the union-stats core: the ONLY
    exchanges in the plan are the doc_id text repartitions (one per
    union leg) — no exchange may ever carry a gram column — and the
    hot path is whole-stage-codegen JVM work (no Python eval)."""
    import re as _re

    from reading_the_unreadable_spark.operators.metrics import (
        bleu,
        chrf,
        rouge_n,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    preds = docs.withColumn("text", F.col("text"))
    for fn in (bleu, rouge_n, chrf):
        plan = _plan(fn(preds, docs))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        ex = [ln for ln in plan.splitlines() if _re.search(r"Exchange hash", ln)]
        assert len(ex) <= 2, (fn.__name__, ex)
        for ln in ex:
            assert "gram" not in ln, (fn.__name__, ln)
            assert "doc_id" in ln, (fn.__name__, ln)


def test_allpairs_verify_is_candidate_bounded(spark):
    """GENERIC path (vocabulary > the bitset cap): prefix-filter
    all-pairs — the candidate join keys on single prefix tokens; the
    verification joins (where array_intersect runs) must key on
    doc_a/doc_b — bounded by the candidate list — and nothing in the
    plan may be cartesian."""
    from reading_the_unreadable_spark.operators.dedup import (
        allpairs_jaccard,
    )

    plan = _plan(allpairs_jaccard(_big_vocab_docs(spark), threshold=0.95))
    assert "CartesianProduct" not in plan
    join_lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", ln)
    ]
    # every join keyed on the token array columns must be doc-bounded
    verify = [ln for ln in join_lines if "toks" in ln]
    assert verify, "expected the verify joins in the plan"
    for ln in verify:
        assert re.search(r"doc_[ab]", ln.split("Join")[1]), ln


def test_allpairs_bitset_path_shape(spark):
    """BITSET path (bench corpus: 31-token vocabulary): sets collapse
    to distinct masks, candidates come from the PartEnum segment join,
    verify is popcount — token arrays never cross an exchange, no
    cartesian, no array_intersect anywhere in the plan."""
    from reading_the_unreadable_spark.operators.dedup import (
        allpairs_jaccard,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(allpairs_jaccard(docs, threshold=0.95))
    assert "CartesianProduct" not in plan
    assert "array_intersect" not in plan
    assert "bit_count" in plan
    exch = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert not any("toks" in ln for ln in exch), exch


def test_dedup_lines_plan_shape(spark):
    """Line dedup: narrow boilerplate agg (partial-distinct map-side),
    verdict join BROADCAST (never a shuffled join on the raw fp — that
    is where boilerplate skew would land), window + reassembly on
    doc_id-prefixed keys, no cartesian."""
    plan = _plan(entrymod.q_dedup_lines(spark, SF))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 4, f"{n} hash exchanges:\n{plan[:1500]}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cc_redact_is_one_jvm_projection(spark):
    """Candidate extraction, the Luhn HOF filter, and the replace fold
    are all JVM expressions in one map stage: zero exchanges, zero
    Python crossings — the scrub rides inside the consuming scan."""
    plan = _plan(entrymod.q_cc_redact(spark, SF))
    assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, plan[:2000]
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, (marker, plan[:2000])


def test_blocklist_join_scale_shape(spark):
    """The 10k-term path: term dim broadcasts (never a corpus-side
    shuffle for the join), within-doc grams dedup BEFORE the explode,
    and the only corpus exchange is the narrow group-back."""
    plan = _plan(entrymod.q_blocklist_scale(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 1, f"{n} hash exchanges:\n{plan[:2000]}"


def test_corpus_drift_single_corpus_scan(spark):
    """The counts frame sits behind a stage boundary: the final plan
    reads only vocabulary-sized scratch — the documents parquet is
    scanned exactly once (inside the boundary job), not once per
    consumer (totals/pair-dim/join sides = 4 rebuilds without it)."""
    plan = _plan(entrymod.q_corpus_drift(spark, SF))
    assert "documents.parquet" not in plan, plan[:2000]
    assert "rtu_stage" in plan


def test_text_tiling_zero_shuffle(spark):
    """Segmentation is a pure map stage: it crosses to Python exactly
    once (one MapInPandas, no pickle-row BatchEvalPython), and its
    values are pinned byte-equal to the HOF spec by test_quality.py."""
    # ONE conditional round-robin rebalance of an under-split scan is
    # allowed (no-op on well-split tables); never a keyed exchange
    arrow_plan = _plan(entrymod.q_text_tiling(spark, SF))
    assert len(re.findall(r"Exchange (hash|range)", arrow_plan)) == 0
    assert len(re.findall(r"Exchange round", arrow_plan)) <= 1
    assert arrow_plan.count("MapInPandas") == 1, arrow_plan[:2000]
    assert "BatchEvalPython" not in arrow_plan, arrow_plan[:2000]


def test_curation_pipeline_stays_native_and_gated(spark):
    """URL gate, main-text extraction, Gopher metrics, and the PII
    scrub are all JVM expressions: the whole end-to-end chain crosses
    to Python zero times and never falls back to a cartesian join."""
    plan = _plan(entrymod.q_curation_pipeline(spark, SF))
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, (marker, plan[:2000])
    assert "CartesianProduct" not in plan


def test_url_canonical_zero_shuffle(spark):
    """Canonicalization is one native projection: no exchange, no
    Python crossing — it rides inside the frontier scan."""
    plan = _plan(entrymod.q_url_canonical(spark, SF))
    assert len(re.findall(r"Exchange (hash|round|range)", plan)) == 0, plan[:2000]
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, (marker, plan[:2000])


def _lambda_bodies(plan: str) -> list[str]:
    """The argument text of every ``lambdafunction(`` call in ``plan``,
    found by matching its parentheses."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end() : i - 1])
    return bodies


def test_hof_lambdas_do_not_reevaluate_split(spark):
    """Spark does not reuse a subexpression across a higher-order
    function's lambda boundary, so a ``split(text)`` written inside a
    lambda re-runs once per array element.  The operators that build
    n-grams or line/word arrays bind the split outside every lambda;
    their optimized plans must keep it there."""
    from reading_the_unreadable_spark.operators.dedup import (
        band_signatures,
        dedup_substrings,
        shingles,
        winnow_fingerprints,
    )
    from reading_the_unreadable_spark.operators.quality import (
        contamination_flags,
        gopher_repetition_signals,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " today"), (3, "a b c\nd e f\n\nd e f")],
        "doc_id long, text string",
    )
    frames = {
        "shingles": shingles(docs),
        "band_signatures": band_signatures(shingles(docs)),
        "winnow": winnow_fingerprints(docs),
        "dedup_substrings": dedup_substrings(docs),
        "decontaminate": contamination_flags(docs, docs.limit(1)),
        "gopher_signals": gopher_repetition_signals(docs),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, f"{name}: no lambda in plan\n{plan[:2000]}"
        bad = [b for b in bodies if "split(" in b]
        assert not bad, f"{name}: split inside a lambda: {bad[0][:500]}"
