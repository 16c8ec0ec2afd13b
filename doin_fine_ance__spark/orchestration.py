"""Asset DAG orchestration (replaces dagster/repo.py:88-170).

The reference's Dagster asset graph:

    simplefin_financial_data → load_to_postgres → dbt_models
                                                   ├→ train_classifier
                                                   └→ predict_categories

Here each asset body is a Spark job over the parquet warehouse; the
graph is expressed as plain-Python assets with explicit deps so it
runs standalone, and ``as_dagster_definitions()`` adapts the same
graph to Dagster when that package is available (the north star keeps
Dagster as the orchestrator — "Spark batch jobs within Dagster
orchestration").

The debounced retrain trigger (dagster_trigger.py:181-205, I4): user
category edits coalesce for RETRAIN_DEBOUNCE_SECONDS before firing
one full_refresh+train+predict run — provided here as a pure
scheduling policy (``RetrainDebouncer``) the host process drives.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .ml.pipeline import predict_categories, train_classifier
from .ml.registry import active_model, load_config, record_model
from .operators.upsert import merge_keyed
from .plans.build import Warehouse, build
from .sources.simplefin import append_to_landing, extract_simplefin

RETRAIN_DEBOUNCE_SECONDS = 45  # ui/backend/constants.py:208


@dataclass
class PipelineRun:
    """One end-to-end run of the asset DAG (the `2_ingest_and_predict`
    job of repo.py:101-107)."""

    spark: SparkSession
    warehouse_root: str
    fetch_window: Callable | None = None
    model_dir: str = "models"
    full_refresh: bool = False
    now: dt.datetime | None = None
    results: dict = field(default_factory=dict)

    def _wh(self) -> Warehouse:
        return Warehouse(self.spark, self.warehouse_root)

    # -- asset: simplefin_financial_data + load (S1 + S3) ------------------
    def ingest(self) -> None:
        if self.fetch_window is None:
            self.results["ingest"] = "skipped (no fetch provided)"
            return
        df = extract_simplefin(self.spark, self.fetch_window, now=self.now)
        append_to_landing(df, os.path.join(self.warehouse_root, "public", "simplefin"))
        self.results["ingest"] = df.count()

    # -- asset: dbt_models (the model DAG) ----------------------------------
    def transform(self) -> None:
        self.results["build"] = build(self._wh(), full_refresh=self.full_refresh)

    # -- asset: train_classifier (M1-M10) ------------------------------------
    def train(self) -> None:
        wh = self._wh()
        now = self.now or dt.datetime.utcnow()
        result = train_classifier(
            self.spark, wh.read("analytics", "fct_validated_trxns"), now=now
        )
        model_path = None
        if result.model is not None:
            model_path = os.path.join(self.model_dir, result.model_version)
            result.model.write().overwrite().save(model_path)
            # "latest" pointer (classifier_train.py:340-347)
            latest = os.path.join(self.model_dir, "latest")
            result.model.write().overwrite().save(latest)
        record_model(
            self.spark,
            wh.path("analytics", "model_registry"),
            result.model_version,
            result.status,
            now,
            file_path=model_path,
            metrics=result.metrics,
            n_train_samples=result.n_train,
            n_test_samples=result.n_test,
            n_classes=result.metrics.get("n_classes"),
            reason=result.metrics.get("reason"),
            message=result.metrics.get("message"),
        )
        self.results["train"] = result.status

    # -- asset: predict_categories (M11-M12 + S6) ----------------------------
    def predict(self) -> None:
        from pyspark.ml import PipelineModel

        wh = self._wh()
        reg = active_model(self.spark, wh.path("analytics", "model_registry"))
        if reg is None or reg.file_path is None:
            self.results["predict"] = "skipped (no active model)"
            return
        model = PipelineModel.load(reg.file_path)
        threshold = load_config()["model"]["confidence_threshold"]
        preds = predict_categories(
            model,
            wh.read("analytics", "fct_trxns_uncategorized"),
            reg.model_version,
            threshold,
            now=self.now,
        )
        sink_cols = [
            "transaction_id",
            "predicted_master_category",
            "prediction_confidence",
            "model_version",
            "prediction_timestamp",
        ]
        merge_keyed(
            self.spark,
            wh.path("analytics", "predicted_transactions"),
            preds.select(*sink_cols),
            "transaction_id",
        )
        self.results["predict"] = preds.count()

    def run(self) -> dict:
        """Topological execution: ingest → transform → train → predict."""
        self.ingest()
        self.transform()
        self.train()
        # predictions join fct_trxns_uncategorized freshness
        # (classifier_predict.py:18-24 dep)
        self.predict()
        # predictions feed fct_trxns_with_predictions: refresh marts
        self.transform()
        return self.results


@dataclass
class LLMPipelineRun:
    """Asset DAG for the training-data (LLM) pipeline — the
    beyond-reference twin of :class:`PipelineRun`:

        documents → minhash signatures (incremental store)
                  → near-dup pairs → dup clusters → keeper corpus
                  → clean corpus (repetition filter + PII scrub +
                    benchmark decontamination)
                  → training shards (sequence packing)
                  → corpus quality stats

    Each asset materializes to ``warehouse_root/llm/<asset>`` parquet
    so downstream consumers (trainers, samplers) read tables, not
    recompute; at 100 TB every stage is the already-benchmarked
    one-shuffle operator it wraps.
    """

    spark: SparkSession
    warehouse_root: str
    jaccard_threshold: float = 0.7
    # kwargs for llm.corpus.repetition_stats (quality-filter thresholds)
    repetition_kwargs: dict = field(default_factory=dict)
    # segment-level boilerplate scrub (llm.corpus.segment_dedup): cut
    # token segments shared by more than this many kept docs before the
    # quality gate. None = stage off (the scrub rebuilds text
    # lowercased/whitespace-normalized, so it is opt-in).
    segment_max_docs: int | None = None
    # terminal tokenizer asset knobs (tokenized_examples): merge count
    # scales with target vocab (production: thousands; tests: small —
    # each merge is a Spark round over the word table), example length
    # is the trainer's context window.
    bpe_merges: int = 16
    example_seq_len: int = 512
    example_shards: int = 8
    # duplicated-span gate (llm.corpus.duplicate_spans): drop docs
    # whose fraction of overlapping 8-token windows shared with other
    # docs exceeds this — a doc that is MOSTLY cross-doc boilerplate
    # should not reach the quality gate at all (the segment scrub cuts
    # shared spans out of otherwise-unique docs; this gate removes
    # docs with nothing else in them). None = stage off.
    max_dup_span_ratio: float | None = None
    results: dict = field(default_factory=dict)

    def _path(self, asset: str) -> str:
        return os.path.join(self.warehouse_root, "llm", asset)

    def dedup_pairs(self, docs) -> None:
        from .llm.dedup import incremental_near_dups

        pairs = incremental_near_dups(
            self.spark, docs, self._path("signatures"),
            threshold=self.jaccard_threshold,
        )
        pairs.write.mode("append").parquet(self._path("near_dup_pairs"))
        self.results["near_dup_pairs"] = pairs.count()

    def clusters(self) -> None:
        from .operators.graph import dedup_keepers

        pairs = self.spark.read.parquet(self._path("near_dup_pairs"))
        keepers = dedup_keepers(pairs)
        keepers.write.mode("overwrite").parquet(self._path("dup_clusters"))
        self.results["dup_clusters"] = keepers.count()

    def keeper_corpus(self, docs) -> None:
        from pyspark.sql import functions as F

        clusters = self.spark.read.parquet(self._path("dup_clusters"))
        dropped = clusters.filter(F.col("doc_id") != F.col("keeper_id")).select("doc_id")
        kept = docs.join(dropped, "doc_id", "left_anti")
        kept.write.mode("overwrite").parquet(self._path("corpus"))
        self.results["corpus"] = kept.count()

    def clean_corpus(self, benchmark=None) -> None:
        """(Optional segment-boilerplate scrub →) quality filter + PII
        scrub (+ optional decontamination vs a benchmark DataFrame)
        over the deduplicated corpus."""
        from pyspark.sql import functions as F

        from .llm.corpus import (
            decontaminate,
            duplicate_spans,
            redact_pii,
            repetition_stats,
            segment_dedup,
        )

        corpus = self.spark.read.parquet(self._path("corpus"))
        if self.max_dup_span_ratio is not None:
            # mostly-boilerplate docs out first (docs shorter than one
            # window emit no stats row and are never dropped here)
            too_dup = (
                duplicate_spans(corpus)
                .filter(F.col("dup_ratio") > self.max_dup_span_ratio)
                .select("doc_id")
            )
            corpus = corpus.join(too_dup, "doc_id", "left_anti")
        if self.segment_max_docs is not None:
            # cross-doc boilerplate segments out BEFORE the quality
            # gate (repetition stats would otherwise score the
            # boilerplate, not the document)
            # LEFT join + coalesce: segment_dedup drops docs whose text
            # is empty/whitespace-only (no segments to emit), but the
            # scrub stage must not change corpus membership — those
            # docs keep their original text and fall through to the
            # quality gate like in the stage-off path.
            scrub = segment_dedup(
                corpus, max_docs=self.segment_max_docs, emit_text=True
            ).select("doc_id", F.col("cleaned_text").alias("scrubbed_text"))
            corpus = (
                corpus.join(scrub, "doc_id", "left")
                .withColumn("text", F.coalesce("scrubbed_text", "text"))
                .drop("scrubbed_text")
            )
        keep_ids = (
            repetition_stats(corpus, **self.repetition_kwargs)
            .filter(F.col("keep"))
            .select("doc_id")
        )
        clean = corpus.join(keep_ids, "doc_id", "left_semi")
        if benchmark is not None:
            contaminated = decontaminate(clean, benchmark).select("doc_id")
            clean = clean.join(contaminated, "doc_id", "left_anti")
        scrubbed = clean.drop("text").join(
            redact_pii(clean).withColumnRenamed("redacted", "text"), "doc_id"
        )
        scrubbed.write.mode("overwrite").parquet(self._path("clean_corpus"))
        self.results["clean_corpus"] = scrubbed.count()

    def shards(self, budget: int = 2048, n_shards: int = 8) -> None:
        from .llm.corpus import pack_sequences

        clean = self.spark.read.parquet(self._path("clean_corpus"))
        packed = pack_sequences(clean, budget=budget, n_shards=n_shards)
        packed.join(clean.select("doc_id", "text"), "doc_id").write.mode(
            "overwrite"
        ).partitionBy("shard").parquet(self._path("shards"))
        self.results["shards"] = packed.select("shard", "pack_id").distinct().count()

    def training_mix(
        self,
        weights: dict | None = None,
        token_budget: int | None = None,
        min_quality: float = 0.5,
        seed: int = 42,
        temperature_alpha: float | None = None,
    ) -> None:
        """Clean corpus → final training mix, the last selection mile:

        1. model-based quality scoring (llm/quality.py): a hashing-TF
           logistic scorer bootstrapped from weak stopword labels on
           THIS corpus, then a min-probability gate;
        2. source rebalancing (map-only): explicit per-source
           ``weights``, or data-driven ``temperature_alpha`` sampling
           (counts ∝ n^alpha, llm/selection.py::temperature_mix) —
           mutually exclusive, weights win if both given;
        3. greedy token-budget selection by quality score (two-pass
           distributed prefix sum);
        4. deterministic shuffle rank = the training serve order.
        """
        from pyspark.sql import functions as F

        from .llm.corpus import word_tokens
        from .llm.quality import (
            quality_filter,
            train_quality_classifier,
            weak_labels_from_stopwords,
        )
        from .llm.selection import (
            budget_select,
            domain_mix,
            shuffle_rank,
            temperature_mix,
        )

        corpus = self.spark.read.parquet(self._path("clean_corpus"))
        model = train_quality_classifier(weak_labels_from_stopwords(corpus))
        mix = quality_filter(model, corpus, min_prob=min_quality)
        if weights and "source" in mix.columns:
            mix = domain_mix(mix, weights)
        elif temperature_alpha is not None and "source" in mix.columns:
            mix = temperature_mix(mix, alpha=temperature_alpha).drop("keep_rate")
        if token_budget is not None:
            toks = word_tokens(F.col("text"))
            mix = budget_select(
                mix.withColumn("n_tokens", F.size(toks).cast("bigint")),
                "n_tokens",
                token_budget,
                [F.col("quality_prob").desc(), F.col("doc_id")],
                cum_col="cum_tokens",
            )
        ordered = shuffle_rank(mix, seed=seed).drop("_shuffle_key")
        ordered.write.mode("overwrite").parquet(self._path("training_mix"))
        self.results["training_mix"] = ordered.count()

    def tokenized_examples(
        self,
        num_merges: int | None = None,
        seq_len: int | None = None,
        n_shards: int | None = None,
    ) -> None:
        """Training mix → tokenizer → fixed-length examples, the
        terminal asset a trainer reads: learn a BPE vocabulary FROM
        the selected mix (llm/tokenizer.py), encode it, and
        materialize exact ``seq_len`` token windows partitioned by
        shard. The merge list persists alongside (JSON) so the
        trained model's tokenizer is reproducible from the warehouse.
        """
        import json as _json

        from .llm.tokenizer import apply_bpe, bpe_train, make_training_examples

        num_merges = num_merges if num_merges is not None else self.bpe_merges
        seq_len = seq_len if seq_len is not None else self.example_seq_len
        n_shards = n_shards if n_shards is not None else self.example_shards
        mix = self.spark.read.parquet(self._path("training_mix"))
        merges = bpe_train(mix, num_merges)
        toks = apply_bpe(mix, merges)
        # persist: the count must come from THIS frame, not a re-read —
        # a corpus smaller than one seq_len window yields zero examples
        # and an empty parquet dir has no schema to re-infer.
        examples = make_training_examples(toks, seq_len, n_shards=n_shards).persist()
        n = examples.count()
        examples.write.mode("overwrite").partitionBy("shard").parquet(
            self._path("examples")
        )
        examples.unpersist()
        merges_path = self._path("tokenizer_merges.json")
        os.makedirs(os.path.dirname(merges_path), exist_ok=True)
        with open(merges_path, "w") as f:
            _json.dump([list(m) for m in merges], f)
        self.results["examples"] = n

    def quality_stats(self) -> None:
        from pyspark.sql import functions as F

        corpus = self.spark.read.parquet(self._path("clean_corpus"))
        stats = corpus.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.avg(F.length("text")).alias("avg_chars"),
        )
        stats.write.mode("overwrite").parquet(self._path("corpus_stats"))
        self.results["corpus_stats"] = stats.first().asDict()

    def run(self, docs, benchmark=None) -> dict:
        """Topological execution over one document batch."""
        self.dedup_pairs(docs)
        self.clusters()
        self.keeper_corpus(docs)
        self.clean_corpus(benchmark)
        self.training_mix()
        self.shards()
        self.tokenized_examples()
        self.quality_stats()
        return self.results


@dataclass
class RetrainDebouncer:
    """Debounced retrain policy (dagster_trigger.py:181-205).

    Category edits call ``notify_edit(now)``; ``due(now)`` flips true
    once edits have been quiet for the debounce window — the host loop
    then fires one full-refresh run covering every coalesced edit.
    """

    debounce_seconds: int = RETRAIN_DEBOUNCE_SECONDS
    _last_edit: dt.datetime | None = None
    _pending: bool = False

    def notify_edit(self, now: dt.datetime) -> None:
        self._last_edit = now
        self._pending = True

    def due(self, now: dt.datetime) -> bool:
        if not self._pending or self._last_edit is None:
            return False
        return (now - self._last_edit).total_seconds() >= self.debounce_seconds

    def fired(self) -> None:
        self._pending = False


def as_dagster_definitions(warehouse_root: str, model_dir: str = "models"):
    """Adapt the asset graph to Dagster when available (import-gated —
    dagster is not in this environment's image)."""
    try:
        import dagster  # type: ignore
    except ImportError as exc:  # pragma: no cover
        raise ImportError(
            "dagster is not installed; run PipelineRun directly or install "
            "dagster to use this adapter"
        ) from exc

    @dagster.asset(name="dbt_models")
    def dbt_models():  # pragma: no cover - requires dagster
        from .session import get_spark

        build(Warehouse(get_spark(), warehouse_root), full_refresh=False)

    @dagster.asset(name="train_classifier", deps=[dbt_models])
    def train_asset():  # pragma: no cover
        from .session import get_spark

        PipelineRun(get_spark(), warehouse_root, model_dir=model_dir).train()

    @dagster.asset(name="predict_categories", deps=[train_asset])
    def predict_asset():  # pragma: no cover
        from .session import get_spark

        PipelineRun(get_spark(), warehouse_root, model_dir=model_dir).predict()

    return dagster.Definitions(assets=[dbt_models, train_asset, predict_asset])
