"""Physical-plan regression tests: the plans we reviewed in PLANS.md must
keep their shape — pruned scans, the mandated shuffle count, broadcast
joins where dims are small, top-N without a global sort."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_plan_shape(spark, transcripts_df, tmp_path_factory):
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    # go through parquet so the scan is a real FileSourceScan with pruning
    path = str(tmp_path_factory.mktemp("plan")) + "/t"
    transcripts_df.write.parquet(path)
    t = spark.read.parquet(path)
    plan = _plan(extract_pipeline(t, num_partitions=4))

    # column pruning reaches the scan: role is never read
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    assert schemas and all("role" not in s for s in schemas)
    # ONE wide exchange (the turn-bucket-salted repartition, which the
    # bucketed ordering window reuses) plus the ordering's narrow branch: a
    # key-column re-scan, its partial-count agg, the tiny offsets window and
    # the offsets broadcast — 4 exchange nodes total, 1 carrying text
    assert plan.count("Exchange") == 4
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert plan.count("BroadcastExchange") == 1
    # the text column is read by exactly one FileScan; the counts branch
    # reads the key columns alone
    assert len(schemas) == 2
    assert sum("text:" in s for s in schemas) == 1
    assert any(s.startswith("struct<conv_id:string,turn_idx:int>") for s in schemas), schemas
    # the Arrow extraction stage runs ONCE (the counts branch prunes it out)
    # and carries the fields and the LOB classification too: no second
    # Python node, no Catalyst field ladder, and no interpreted
    # higher-order function (array_compact's lambda) left
    assert plan.count("ArrowEvalPython") == 1
    assert "regexp_extract" not in plan
    assert "lambdafunction" not in plan
    # two windows: bucketed row_number + the tiny cumulative-offsets window
    assert plan.count("Window") == 2


def _path_to(node, kind: str) -> list:
    """The plan nodes from ``node`` down to the first node whose class is
    ``kind`` (depth-first; adaptive and query-stage nodes followed into
    their plans), or [] when there is none."""
    name = node.getClass().getSimpleName()
    if name == kind:
        return [node]
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = [node.children().apply(i) for i in range(node.children().size())]
    for child in kids:
        path = _path_to(child, kind)
        if path:
            return [node, *path]
    return []


def test_kernel_rows_cross_one_exchange(spark, transcripts_df, tmp_path_factory):
    """Each turn is shuffled once: the text side of the executed plan holds
    one exchange (the salted repartition), and no exchange sits between the
    kernel and a sink's own aggregate — with broadcast joins off too, so
    the offsets join, a sort-merge join at scale, keeps the big side in the
    repartition's partitioning instead of re-shuffling it."""
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    path = str(tmp_path_factory.mktemp("one_shuffle")) + "/t"
    transcripts_df.write.parquet(path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for threshold in (old, "-1"):
            spark.conf.set(key, threshold)
            out = extract_pipeline(spark.read.parquet(path), num_partitions=4)
            sink = out.agg(F.count(F.lit(1)).alias("n"), F.max("turn_pos").alias("mx"),
                           F.sum(F.length("extracted_text")), F.max("confidence"))
            assert sink.collect()[0]["n"] == transcripts_df.count()
            root = sink._jdf.queryExecution().executedPlan()
            above = _path_to(root, "ArrowEvalPythonExec")
            kinds = [n.getClass().getSimpleName() for n in above]
            last_agg = max(i for i, k in enumerate(kinds) if k == "HashAggregateExec")
            between = kinds[last_agg + 1:]
            assert not [k for k in between if "Exchange" in k], (threshold, kinds)
            below = [n.getClass().getSimpleName() for n in _path_to(above[-1], "FileSourceScanExec")]
            assert below.count("ShuffleExchangeExec") == 1, (threshold, below)
            if threshold == "-1":
                assert "SortMergeJoinExec" in below, below
    finally:
        spark.conf.set(key, old)


def test_turn_ordering_never_full_conv_sorts(spark):
    """Round-4 (VERDICT item 1): the ordering stage is two-phase — the heavy
    row_number window partitions by (conv_id, __turn_bkt), NEVER conv_id
    alone, so a mega-conversation's sort fans out across bucket tasks."""
    from pdf_extraction_ai_agent_spark.operators.ordering import with_turn_pos

    df = spark.createDataFrame(
        [("c", i % 7, None, "t") for i in range(50)],
        "conv_id string, turn_idx int, ts timestamp, text string",
    )
    plan = _plan(with_turn_pos(df, bucket_width=4))
    # no window partitioned on conv_id alone over the data (the old shape)
    assert not re.search(r"windowspecdefinition\(conv_id#\d+, turn_idx#", plan)
    # the big window is bucketed (the conversation key is the null-safe
    # pair coalesce(conv_id, '') / isnull(conv_id))
    assert re.search(r"windowspecdefinition\(__ck#\d+, __cn#\d+, __turn_bkt#", plan)


def test_turn_ordering_two_phase_matches_window(spark):
    """Differential: bucketed two-phase ≡ the single conv-wide window, on a
    skewed fixture with duplicate turn_idx values and multiple buckets per
    conversation (incl. a null turn_idx landing nulls-first)."""
    import datetime
    import random

    from pdf_extraction_ai_agent_spark.operators.ordering import with_turn_pos

    rng = random.Random(11)
    rows = []
    for conv, n in [("mega", 700), ("small", 9), ("dup", 120)]:
        for i in range(n):
            ti = rng.randrange(0, 40) if conv == "dup" else i
            ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(
                seconds=rng.randrange(0, 10**6)
            )
            rows.append((conv, ti, ts))
    rows.append(("mega", None, datetime.datetime(2024, 1, 1)))
    # NULL conv_id rows must survive (eqNullSafe offsets join) with the same
    # positions the window path assigns within the NULL partition
    rows.append((None, 1, datetime.datetime(2024, 1, 2)))
    rows.append((None, 2, datetime.datetime(2024, 1, 3)))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")

    two_phase = {
        (r.conv_id, r.turn_idx, r.ts): r.turn_pos
        for r in with_turn_pos(df, bucket_width=16).collect()
    }
    window = {
        (r.conv_id, r.turn_idx, r.ts): r.turn_pos
        for r in with_turn_pos(df, bucket_width=None).collect()
    }
    assert two_phase == window


def test_topk_uses_take_ordered(spark, sf_dir):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q07_top_claims"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-N


def test_recipient_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q30_recipients"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_record_split_no_extra_shuffle(spark):
    """X1 explode + parse is narrow: zero exchanges over a direct source."""
    from pdf_extraction_ai_agent_spark.operators.records import split_records

    df = spark.createDataFrame(
        [("d1", 0, "Claim# ABC-12345 amount $10.00.\n\nClaim# XYZ-99999.")],
        "conv_id string, turn_idx int, extracted_text string",
    )
    plan = _plan(split_records(df))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """recall@10 curve over nprobe ∈ {1, 2, 4, 6}: must be monotone
    non-decreasing (more probes can only widen the candidate set) with a
    floor at nprobe=1 — the md5-strided seeding must not collapse to a
    degenerate partition of the corpus (round-2 verdict item 6)."""
    from pdf_extraction_ai_agent_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = similarity.cosine_topk_bruteforce(emb, qids, k=10).collect()
    es: dict = {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.neighbor_id)

    curve = {}
    for nprobe in (1, 2, 4, 6):
        approx = similarity.cosine_topk_ivf(
            emb, qids, k=10, n_centroids=16, nprobe=nprobe
        ).collect()
        as_: dict = {}
        for r in approx:
            as_.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [len(es[q] & as_.get(q, set())) / len(es[q]) for q in es]
        curve[nprobe] = sum(recalls) / len(recalls)

    assert curve[1] >= 0.15, f"nprobe=1 recall degenerate: {curve}"
    assert curve[1] <= curve[2] <= curve[4] <= curve[6] + 1e-9, curve
    assert curve[6] >= 0.4, f"IVF recall too low: {curve}"


def test_ivf_topk_fits_kmeans_once(spark, sf_dir, monkeypatch):
    """Round-4 (verdict item 4): cosine_topk_ivf threads ONE fitted
    centroids frame through assignment + probe selection — the fit
    (2× Lloyd scans + collects) must run exactly once per query."""
    from pdf_extraction_ai_agent_spark.operators import similarity

    calls = {"n": 0}
    real_fit = similarity._ivf_fit_centroids

    def counting_fit(*a, **kw):
        calls["n"] += 1
        return real_fit(*a, **kw)

    monkeypatch.setattr(similarity, "_ivf_fit_centroids", counting_fit)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.cosine_topk_ivf(emb, [0, 1], k=5, n_centroids=8, nprobe=2).collect()
    assert calls["n"] == 1, calls


def test_near_dup_plan_has_no_cartesian(spark, sf_dir):
    """q36's production plan must be band-bucket equi-joins + kernel verify:
    no all-pairs nested loop anywhere (round-1 verdict item 1)."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q36_embedding_near_dups"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_lsh_verify_plan_has_no_cartesian(spark, sf_dir):
    """q12's intersection join must be driven by the LSH candidate pair set,
    not a word-exploded corpus self-join (round-1 verdict item 4)."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q12_jaccard_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the minhash signature kernel must be in the plan: candidates come from
    # LSH bands, not from the word-exploded quadratic self-join
    assert "MapInPandas" in plan
    # round-2 verdict item 2: the token table is semi-restricted to candidate
    # docs BEFORE the persist and the sizes aggregate, so the sizes groupBy
    # and both intersection legs are all semi-joined (3 LeftSemi legs: the
    # pair-doc union restriction + one per intersection side)
    assert plan.count("LeftSemi") >= 3, plan


def test_ann_exact_topk_plan_is_two_stage(spark, sf_dir):
    """q16's exact rank must be the two-stage WindowGroupLimit form —
    a Partial group-limit BELOW the exchange (each map task emits ≤ k rows
    per query; per-partition sort only) and the Final above it — never a
    single corpus-sized window partition per query (round-2 verdict item
    1). Catalyst's InferWindowGroupLimit produces this only when the
    rank<=k filter stays adjacent to the window and k ≤
    spark.sql.window.group.limit.threshold; this pin catches any refactor
    that breaks the pattern. Plans print parent-first, so Final must
    appear before Exchange, which must appear before Partial.

    The brute-force scan is Catalyst-only, so it reads ``embeddings``
    unspread: no vec_id exchange. q36's per-bucket Python kernel still
    consumes a spread scan, so its plan keeps that exchange."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q16_ann_cosine_topk"](spark, sf_dir))
    i_final = plan.index("WindowGroupLimit")
    assert ", Final" in plan and ", Partial" in plan, plan
    i_partial = plan.index(", Partial")
    i_exchange = plan.index("Exchange hashpartitioning(query_id")
    assert i_final < i_exchange < i_partial, plan
    assert "Exchange hashpartitioning(vec_id" not in plan, plan
    q36 = _plan(entry.queries()["q36_embedding_near_dups"](spark, sf_dir))
    assert "Exchange hashpartitioning(vec_id" in q36, q36


def test_aqe_skew_join_split_engages(spark, tmp_path_factory):
    """AQE's skew-join split is the runtime answer for skew discovered at
    execution: with one hot key dominating the fact side and split
    thresholds scaled to the fixture, the final adaptive plan must mark the
    sort-merge join skew=true (round-2 verdict item 9)."""
    base = str(tmp_path_factory.mktemp("skew"))
    # hot key 0 carries ~97% of the fact rows
    spark.range(0, 200_000).select(
        F.when(F.col("id") % 30 != 0, F.lit(0)).otherwise(F.col("id") % 997).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload"),
    ).write.mode("overwrite").parquet(base + "/fact")
    spark.range(0, 997).select(
        F.col("id").alias("k"), F.col("id").alias("dim_val")
    ).write.mode("overwrite").parquet(base + "/dim")

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(base + "/fact")
        dim = spark.read.parquet(base + "/dim")
        # count rows per partition so the action executes THIS DataFrame's
        # query execution (a .write/.count wraps the plan in a new one and
        # the adaptive final plan would not be visible on `joined`)
        joined = fact.join(dim, "k")
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_partitioned_layout_prunes_scan(spark, sf_dir, tmp_path_factory):
    """The IVF scale story end-to-end: corpus written partitioned by
    centroid_id → an nprobe query's scan reads ONLY the probed partitions
    (PartitionFilters at the FileSourceScan, no full-corpus read)."""
    from pdf_extraction_ai_agent_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = similarity.ivf_assignments(emb, n_centroids=16)
    base = str(tmp_path_factory.mktemp("ivf")) + "/corpus"
    (
        emb.join(assign, "vec_id")
        .write.partitionBy("centroid_id")
        .parquet(base)
    )
    corpus = spark.read.parquet(base)
    probed = corpus.filter(F.col("centroid_id").isin([0, 3, 7]))
    plan = _plan(probed)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid_id" in m.group(1), plan
    # pruning is real: the probed read touches a strict subset of rows
    assert probed.count() < corpus.count()


def test_region_rollup_broadcasts_dims(spark, sf_dir):
    """q43's dim chain (customer⋈nation⋈region) must broadcast — the fact
    side never shuffles on a dim key."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q43_region_rollup"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_auto_ordering_strategy(spark, transcripts_df):
    """salt_buckets='auto': when no conversation exceeds one ordering
    bucket, the pipeline uses the plain conv-wide window (no diamond); a
    corpus with a bucket-exceeding conversation keeps the two-phase plan."""
    from pdf_extraction_ai_agent_spark.plans import pipeline as P

    import pytest

    small = P.extract_pipeline(transcripts_df, num_partitions=4, salt_buckets="auto")
    plan = _plan(small)
    assert "__turn_bkt" not in plan  # single-window path chosen
    assert re.search(r"windowspecdefinition\(conv_id#\d+, turn_idx#", plan)
    # ... in the repartition's partitioning: conv_id alone, one exchange
    assert re.search(r"Exchange hashpartitioning\(conv_id#\d+, 4\)", plan)
    assert plan.count("Exchange") == 1

    # the turn bucket is the only salt: an integer fan-out is refused
    with pytest.raises(ValueError, match="salt_buckets"):
        P.extract_pipeline(transcripts_df, salt_buckets=8)

    # force the threshold down so the fixture LOOKS mega → two-phase kept
    import pdf_extraction_ai_agent_spark.operators.ordering as O
    orig = O.DEFAULT_TURN_BUCKET_WIDTH
    try:
        O.DEFAULT_TURN_BUCKET_WIDTH = 4
        big = P.extract_pipeline(transcripts_df, num_partitions=4, salt_buckets="auto")
        assert "__turn_bkt" in _plan(big)
    finally:
        O.DEFAULT_TURN_BUCKET_WIDTH = orig


def test_lattice_normalize_no_recompute(spark, sf_dir):
    """q46's executed plan must not re-execute the lattice-parse subtree:
    the padded-rows pad width is a window max (not a second aggregate
    diamond) and the header attach is a window (not a headers/data
    self-join), so q46 touches the source exactly as many times as q45
    does. Round-4 regression: 21 scans vs q45's 6."""
    from pdf_extraction_ai_agent_spark.entry_queries_ext6 import (
        q45_lattice_tables,
        q46_lattice_normalize,
    )

    q45 = q45_lattice_tables(spark, sf_dir)
    q45.collect()
    q46 = q46_lattice_normalize(spark, sf_dir)
    q46.collect()
    s45 = _plan(q45).count("Scan parquet")
    s46 = _plan(q46).count("Scan parquet")
    assert s46 <= s45, f"q46 re-executes the parse subtree: {s46} scans vs q45 {s45}"


def _python_evals(df) -> dict[str, int]:
    """UDF name → number of ``*EvalPythonExec`` nodes of ``df``'s physical
    plan that evaluate it. Walks the plan objects over py4j, not the plan
    string: a plan that reads a cached frame prints that frame's adaptive
    plan twice (final and initial), so one evaluation would read as two.
    An adaptive node is followed into its current plan, a query stage of
    an executed one into the stage's plan, and a cached-frame scan into
    the frame's own plan. A reused exchange is not followed: its subtree
    runs once, where it is first planned."""
    from collections import Counter

    counts: Counter = Counter()

    def items(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def walk(node) -> None:
        kind = node.getClass().getSimpleName()
        if kind.endswith("EvalPythonExec"):
            counts.update(udf.name() for udf in items(node.udfs()))
        if kind == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            walk(node.plan())
        elif kind == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        for child in items(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return dict(counts)


def test_every_python_udf_evaluates_once(spark, transcripts_df):
    """Each Python UDF runs in exactly ONE eval node of its plan. A filter
    on a UDF's output is pushed below the projection that computes it, so
    Catalyst re-evaluates the UDF under the filter: two Python workers per
    task and the input sent to Python twice. The KDF pre-pass did this
    with ``.filter(s.isNotNull())`` on its ``_salts`` output."""
    from pdf_extraction_ai_agent_spark.plans import pipeline as P
    from pdf_extraction_ai_agent_spark.plans.lineage import with_part_id

    pre = _python_evals(P._kdf_salt_frame(transcripts_df, "text", (b"",)))
    assert pre == {"_salts": 1, "_kdf_pack": 1}, pre

    # the resumable job's per-bucket-group plan, built with its arguments
    group = with_part_id(transcripts_df, n_buckets=4).filter(F.col("part_id").isin([0, 1]))
    seed = {(b"", b"\x00" * 8, b""): b"\x00" * 32}
    plans = {
        "static": (P.extract_pipeline(transcripts_df), {"_kernel"}),
        "auto": (P.extract_pipeline(transcripts_df, salt_buckets="auto"), {"_kernel"}),
        "ocr": (P.extract_pipeline(transcripts_df, ocr="fixture"), {"_kernel"}),
        "job_group": (P.extract_pipeline(group, salt_buckets="auto", max_conv_rows=10,
                                         kdf_seed=seed), {"_kernel"}),
        "job_group_ocr": (P.extract_pipeline(group, salt_buckets="auto", max_conv_rows=10,
                                             kdf_seed=seed, ocr="fixture"), {"_kernel"}),
    }
    for name, (df, udfs) in plans.items():
        evals = _python_evals(df)
        assert evals == dict.fromkeys(udfs, 1), (name, evals)


def test_extract_pipeline_output_columns(transcripts_df):
    """The documented output contract, in order (perfbench's digest hashes
    the columns in this order): the kernel's columns, then turn_pos, the
    parsed fields and lob/lobs. OCR changes values, never the columns; an
    unknown ``ocr`` value is refused while the plan is built, not in every
    task."""
    import pytest

    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    want = [
        "conv_id", "turn_idx", "ts", "extracted_text", "spans", "needs_ocr",
        "payload_kind", "error", "turn_pos", "claim_number", "name", "date",
        "confidence", "lob", "lobs",
    ]
    assert extract_pipeline(transcripts_df).columns == want
    assert extract_pipeline(transcripts_df, ocr="fixture").columns == want
    with pytest.raises(ValueError, match="'stub'"):
        extract_pipeline(transcripts_df, ocr="stub")
