"""Asset-DAG orchestration: the end-to-end ingest→build→train→predict
run, the retrain debouncer, and the dagster adapter's import gate."""

from __future__ import annotations

import datetime as dt

import pytest

from doin_fine_ance__spark.orchestration import (
    RETRAIN_DEBOUNCE_SECONDS,
    PipelineRun,
    RetrainDebouncer,
    as_dagster_definitions,
)
from doin_fine_ance__spark.plans.build import Warehouse
from doin_fine_ance__spark.sources import fixtures as FX

NOW = dt.datetime(2024, 3, 15, 12, 0, 0)


def _payload(start, end):
    return {
        "accounts": [
            {
                "id": "ACT-NEW",
                "name": "Fresh Checking",
                "org": {"name": "Example Bank", "domain": "bank.example"},
                "transactions": [
                    {
                        "id": f"TRN-NEW-{int(start.timestamp())}",
                        "amount": "-33.00",
                        "posted": int(start.timestamp()),
                        "transacted_at": int(start.timestamp()),
                        "description": "SAFEWAY RUN",
                    }
                ],
            }
        ]
    }


@pytest.mark.slow
def test_pipeline_run_end_to_end(spark, tmp_path):
    root = str(tmp_path)
    FX.write_warehouse_inputs(spark, root)
    run = PipelineRun(
        spark,
        root,
        fetch_window=_payload,
        model_dir=str(tmp_path / "models"),
        full_refresh=True,
        now=NOW,
    )
    results = run.run()
    assert results["ingest"] == 5  # one txn per 45-day window
    assert results["build"]["int_trxns"] > 0
    # 12-ish validated rows < 50 → training skipped but recorded
    assert results["train"] == "skipped"
    assert results["predict"] == "skipped (no active model)"
    wh = Warehouse(spark, root)
    reg = wh.read("analytics", "model_registry")
    assert reg.filter("status = 'skipped' and is_latest").count() == 1
    # ingested rows flowed through staging into the marts
    unc = wh.read("analytics", "fct_trxns_uncategorized")
    assert unc.filter("description = 'SAFEWAY RUN'").count() == 5


def test_retrain_debouncer_coalesces_edits():
    d = RetrainDebouncer()
    t0 = NOW
    d.notify_edit(t0)
    # edits keep arriving inside the window → not due
    d.notify_edit(t0 + dt.timedelta(seconds=30))
    assert not d.due(t0 + dt.timedelta(seconds=60))
    # quiet for the full debounce after the LAST edit → due exactly once
    fire_at = t0 + dt.timedelta(seconds=30 + RETRAIN_DEBOUNCE_SECONDS)
    assert d.due(fire_at)
    d.fired()
    assert not d.due(fire_at + dt.timedelta(seconds=300))


def test_dagster_adapter_import_gate(tmp_path):
    try:
        import dagster  # noqa: F401

        pytest.skip("dagster installed; adapter would build definitions")
    except ImportError:
        with pytest.raises(ImportError, match="dagster is not installed"):
            as_dagster_definitions(str(tmp_path))


def test_schema_test_fails_loudly(spark):
    """The dbt-unique equivalent aborts the build on duplicate keys.

    (The model itself makes md5 collisions near-impossible — the
    row_number disambiguation even absorbs mapping fan-out, same as the
    reference — so the check is exercised directly.)
    """
    from doin_fine_ance__spark.plans.build import SchemaTestError, _assert_unique

    clean = spark.createDataFrame([("a",), ("b",)], ["transaction_id"])
    _assert_unique(clean, "transaction_id", "stg_historic_trxns")  # passes
    dirty = spark.createDataFrame([("a",), ("a",), ("b",)], ["transaction_id"])
    with pytest.raises(SchemaTestError, match="stg_historic_trxns.transaction_id"):
        _assert_unique(dirty, "transaction_id", "stg_historic_trxns")


def test_mapping_fanout_absorbed_by_disambiguation(spark, tmp_path):
    """Two mapping rows matching one source row fan out the join, but the
    row_number disambiguation still yields unique surrogate ids — the
    reference behaves identically (stg_historic_trxns.sql:41-60)."""
    from doin_fine_ance__spark.plans.build import Warehouse, build

    root = str(tmp_path)
    FX.write_warehouse_inputs(spark, root)
    dup_mapping = spark.createDataFrame(
        [
            ("Old Checking", None, "Legacy Checking", "Sam"),
            ("Old Checking", None, "Other Checking", "Sam"),  # fan-out
        ],
        schema=FX.schemas.SEED_ACCOUNT_MAPPING_HISTORIC,
    )
    dup_mapping.write.mode("overwrite").parquet(
        f"{root}/public/seed_account_mapping_historic"
    )
    counts = build(Warehouse(spark, root), full_refresh=True)
    assert counts["stg_historic_trxns"] > 0  # unique test passed


@pytest.mark.slow
def test_llm_pipeline_dag(spark, tmp_path):
    """documents → pairs → clusters → keeper corpus → stats, end to end.

    Two batches: dedup is incremental (batch2 matches batch1's stored
    signatures); the keeper corpus keeps exactly one doc per cluster.
    """
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    base = "the quick brown fox jumps over the lazy dog " * 8
    # fixtures are deliberately repetitive (for the dedup stages);
    # disarm the Gopher thresholds so the quality filter keeps them
    lenient = dict(
        max_word_frac=1.0, min_distinct_frac=0.0,
        min_mean_word_len=0.0, max_mean_word_len=100.0,
    )
    batch1 = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (10, "unrelated words entirely " * 8)],
        "doc_id long, text string",
    )
    run = LLMPipelineRun(spark, str(tmp_path / "wh"), repetition_kwargs=lenient)
    r1 = run.run(batch1)
    assert r1["near_dup_pairs"] >= 1          # (1,2)
    assert r1["corpus"] == 2                  # keeper of {1,2} + 10
    kept1 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "wh/llm/corpus")).collect()}
    assert kept1 == {1, 10}

    batch2 = spark.createDataFrame(
        [(20, base + "other tail"), (30, "fresh independent content " * 8)],
        "doc_id long, text string",
    )
    run2 = LLMPipelineRun(spark, str(tmp_path / "wh"), repetition_kwargs=lenient)
    r2 = run2.run(batch1.unionByName(batch2))
    # doc 20 joined cluster {1,2} via stored signatures; keeper still 1
    kept2 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "wh/llm/corpus")).collect()}
    assert kept2 == {1, 10, 30}
    assert r2["clean_corpus"] == 3
    assert r2["corpus_stats"]["n_docs"] == 3
    # shards asset: every clean doc landed in a (shard, pack) slot
    sh = spark.read.parquet(str(tmp_path / "wh/llm/shards"))
    assert {r.doc_id for r in sh.select("doc_id").collect()} == kept2
    assert set(sh.columns) >= {"doc_id", "shard", "pack_id", "n_tokens", "text"}
    # training_mix asset: model-quality gate + deterministic serve order;
    # ranks are a contiguous 1..n permutation
    tm = spark.read.parquet(str(tmp_path / "wh/llm/training_mix"))
    rows = tm.select("doc_id", "quality_prob", "shuffle_rank").collect()
    assert r2["training_mix"] == len(rows) > 0
    assert {r.doc_id for r in rows} <= kept2
    assert sorted(r.shuffle_rank for r in rows) == list(range(1, len(rows) + 1))
    assert all(r.quality_prob >= 0.5 for r in rows)


@pytest.mark.slow
def test_llm_pipeline_quality_and_decontamination_gates(spark, tmp_path):
    """Default thresholds DROP degenerate docs; a benchmark batch
    removes contaminated docs from the clean corpus."""
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    good = " ".join(f"word{i:03d}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "spam " * 60),                      # repetition-filtered
            (3, " ".join(f"tok{i:02d}" for i in range(40, 100))),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "word001 word002 word003 word004 word005")],  # contaminates doc 1
        "doc_id long, text string",
    )
    run = LLMPipelineRun(spark, str(tmp_path / "wh2"))
    r = run.run(docs, benchmark=bench)
    clean = {r_.doc_id for r_ in
             spark.read.parquet(str(tmp_path / "wh2/llm/clean_corpus")).collect()}
    assert clean == {3}
    assert r["clean_corpus"] == 1


def test_training_mix_budget_and_weights(spark, tmp_path):
    """Optional knobs: source weights + token budget both constrain the mix."""
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    rows = [
        (i, "the of and to is learn " * 10, "srcA" if i % 2 else "srcB")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    run = LLMPipelineRun(spark, str(tmp_path / "wh"))
    docs.write.mode("overwrite").parquet(run._path("clean_corpus"))
    run.training_mix(weights={"srcA": 1.0, "srcB": 0.0}, token_budget=300)
    tm = spark.read.parquet(run._path("training_mix")).collect()
    assert all(r.source == "srcA" for r in tm)     # srcB weighted out
    assert all(r.cum_tokens <= 300 for r in tm)    # budget respected
    assert 0 < len(tm) < 20                        # strictly cut by budget


def test_training_mix_temperature_rebalance(spark, tmp_path):
    """temperature_alpha knob: data-driven rebalancing — the minority
    source survives whole, the majority is downsampled by
    sqrt(n_min/n); explicit weights take precedence when both given."""
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    rows = [
        (i, "the of and to is learn " * 10, "big" if i < 36 else "small")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    run = LLMPipelineRun(spark, str(tmp_path / "wh"))
    docs.write.mode("overwrite").parquet(run._path("clean_corpus"))
    run.training_mix(min_quality=0.0, temperature_alpha=0.5)
    tm = spark.read.parquet(run._path("training_mix")).collect()
    by_src = {}
    for r in tm:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert by_src.get("small") == 4          # smallest source kept whole
    assert 0 < by_src.get("big", 0) < 36     # majority visibly downsampled
    # explicit weights win over temperature when both are passed
    run.training_mix(min_quality=0.0, weights={"big": 0.0, "small": 1.0},
                     temperature_alpha=0.5)
    tm2 = spark.read.parquet(run._path("training_mix")).collect()
    assert {r.source for r in tm2} == {"small"}


@pytest.mark.slow
def test_llm_pipeline_segment_scrub_stage(spark, tmp_path):
    """With segment_max_docs set, cross-doc boilerplate segments are cut
    from every clean-corpus doc while unique bodies survive."""
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    boiler = " ".join(f"licence{i}" for i in range(10))
    lenient = dict(
        max_word_frac=1.0, min_distinct_frac=0.0,
        min_mean_word_len=0.0, max_mean_word_len=100.0,
    )
    docs = spark.createDataFrame(
        [(i, boiler + " " + " ".join(f"body{i}w{j}" for j in range(10)))
         for i in range(5)],
        "doc_id long, text string",
    )
    run = LLMPipelineRun(
        spark, str(tmp_path / "wh"), repetition_kwargs=lenient, segment_max_docs=3
    )
    run.run(docs)
    clean = {r.doc_id: r.text for r in
             spark.read.parquet(str(tmp_path / "wh/llm/clean_corpus")).collect()}
    assert set(clean) == set(range(5))
    for i, text in clean.items():
        assert "licence0" not in text
        assert text == " ".join(f"body{i}w{j}" for j in range(10))


@pytest.mark.slow
def test_clean_corpus_dup_span_gate_drops_boilerplate_docs(spark, tmp_path):
    """With max_dup_span_ratio set, a doc that is pure cross-doc
    boilerplate is dropped before the quality gate, while docs that
    merely CONTAIN the shared span (plus unique bodies) survive."""
    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    span = " ".join(f"boiler{i}" for i in range(8))
    lenient = dict(
        max_word_frac=1.0, min_distinct_frac=0.0,
        min_mean_word_len=0.0, max_mean_word_len=100.0,
    )
    docs = spark.createDataFrame(
        [(0, span),  # 100% duplicated windows -> dropped
         (1, span)]  # its twin -> dropped
        + [(2 + i, span + " " + " ".join(f"body{i}w{j}" for j in range(24)))
           for i in range(2)],  # mostly-unique docs -> kept
        "doc_id long, text string",
    )
    run = LLMPipelineRun(
        spark, str(tmp_path / "wh"), jaccard_threshold=0.99,
        repetition_kwargs=lenient, max_dup_span_ratio=0.5,
    )
    run.run(docs)
    clean = sorted(
        r.doc_id for r in
        spark.read.parquet(str(tmp_path / "wh/llm/clean_corpus")).collect()
    )
    assert clean == [2, 3]


def test_tokenized_examples_terminal_asset(spark, tmp_path):
    """The corpus DAG ends in trainer-ready artifacts: fixed-length
    token examples partitioned by shard plus the persisted merge list,
    and decoding examples with the saved merges is consistent (every
    row exactly seq_len tokens; merges file parses back)."""
    import json

    from doin_fine_ance__spark.orchestration import LLMPipelineRun

    lenient = dict(
        max_word_frac=1.0, min_distinct_frac=0.0,
        min_mean_word_len=0.0, max_mean_word_len=100.0,
    )
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
         for i in range(30)],
        "doc_id long, text string",
    )
    run = LLMPipelineRun(spark, str(tmp_path / "wh"), repetition_kwargs=lenient)
    run.dedup_pairs(docs)
    run.clusters()
    run.keeper_corpus(docs)
    run.clean_corpus()
    run.training_mix(min_quality=0.0)
    run.tokenized_examples(num_merges=12, seq_len=32, n_shards=2)

    ex = spark.read.parquet(str(tmp_path / "wh/llm/examples"))
    rows = ex.collect()
    assert run.results["examples"] == len(rows) > 0
    assert all(len(r.tokens) == 32 for r in rows)
    assert set(r.shard for r in rows) <= {0, 1}
    merges = json.load(open(tmp_path / "wh/llm/tokenizer_merges.json"))
    assert len(merges) == 12 and all(len(m) == 2 for m in merges)
