"""Guards on the word-gram kernel (``operators/dedup_text.word_grams``)
and on the ``events`` loader's ``nanosAsLong`` handling.

Every word gram, shingle and segment comes from exploded window
positions with a plain ``slice`` projection. A higher-order lambda that
closes over the split text re-runs the split per position, and Catalyst
can copy it into an inferred filter below the exchange, so the plan
guard below fails on any lambda body that tokenizes an outer column.
"""

from __future__ import annotations

import datetime as dt
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

import __spark_entry__
from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import word_grams
from designing_data_warehouse_in_sql_server_spark.sources.parquet import NANOS_AS_LONG, load_table
from tests.conftest import SF_DIR
from tests.oracle_diff import compare
from tests.test_warm_queries import _spark_jobs

QUERIES, ORACLES = __spark_entry__.queries(), __spark_entry__.oracle_sql()
EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"

# every registered query that builds word grams: perfbench's corpus_dedup
# pool plus the other gram builders
GRAM_QUERIES = (
    "dedup_minhash_lsh dedup_ngram_jaccard dedup_containment dedup_simhash "
    "simhash_near_pairs dedup_connected_components dedup_keep_best dedup_segments "
    "prepare_corpus decontaminate_ngrams lang_id_ngram quality_repetition "
    "minhash_jaccard_estimate dedup_incremental_lsh dedup_incremental_lsh_store "
    "winnow_fingerprint_pairs set_similarity_prefix_join lsh_recall_certification "
    "source_overlap_matrix ngram_novelty_score dup_span_fraction corpus_curation_funnel "
    "llm_pipeline_end_to_end corpus_bigram_topk stupid_backoff_lm bpe_train_merges "
    "bpe_encode_corpus doc_fingerprint boilerplate_removal decontaminate_bloom "
    "hash_classifier_score"
).split()

_TOKENIZERS = re.compile(r"\b(split|lower|regexp_\w+)\(")
_OUTER_ATTR = re.compile(r"(?<!lambda )\b\w+#\d+")


def _balanced(text: str, open_at: int) -> str:
    """The text inside the parenthesis that opens at ``open_at``."""
    depth = 0
    for i in range(open_at, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return text[open_at + 1 : i]
    raise ValueError("unbalanced plan text")


def tokenizing_lambdas(plan: str) -> list[str]:
    """Lambda bodies in an optimized plan's text that split, lower or
    regexp-match an outer column (an attribute that is not a lambda
    variable)."""
    hits = []
    for m in re.finditer(r"lambdafunction\(", plan):
        body = _balanced(plan, m.end() - 1)
        for t in _TOKENIZERS.finditer(body):
            if _OUTER_ATTR.search(_balanced(body, t.end() - 1)):
                hits.append(body[:300])
                break
    return hits


def _optimized_plans(spark, monkeypatch, name: str) -> list[str]:
    """The optimized plan of the query and of every relation it
    checkpoints on the way (a checkpoint hides its input's plan)."""
    cls = type(spark.range(1))
    plans = []
    for method in ("localCheckpoint", "checkpoint"):
        original = getattr(cls, method)

        def capture(self, *args, _original=original, **kwargs):
            plans.append(self._jdf.queryExecution().optimizedPlan().toString())
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, capture)
    df = QUERIES[name](spark, SF_DIR)
    plans.append(df._jdf.queryExecution().optimizedPlan().toString())
    return plans


def test_the_guard_flags_a_closure_over_split_text(spark):
    docs = spark.createDataFrame([(1, "a b c")], "id long, text string")
    w = F.split(F.lower(F.col("text")), " ")
    closed = docs.select(F.transform(F.sequence(F.lit(1), F.size(w)), lambda i: F.element_at(w, i)))
    over_words = docs.select(w.alias("w")).select(F.transform("w", lambda x: F.upper(x)))
    assert tokenizing_lambdas(closed._jdf.queryExecution().optimizedPlan().toString())
    assert not tokenizing_lambdas(over_words._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("name", GRAM_QUERIES)
def test_no_lambda_tokenizes_an_outer_column(spark, monkeypatch, name):
    for plan in _optimized_plans(spark, monkeypatch, name):
        hits = tokenizing_lambdas(plan)
        assert not hits, f"{name}: lambda closes over tokenized text: {hits[0]}"


def test_gram_family_leaves_optimizer_rules_alone(spark):
    spark.conf.unset(EXCLUDED_RULES)
    for name in GRAM_QUERIES:
        QUERIES[name](spark, SF_DIR).count()
    assert spark.conf.get(EXCLUDED_RULES, None) is None


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "id long, text string").select(
        "id", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    )


def test_word_grams_yield_nothing_below_k_words(spark):
    # "" splits to one empty word; sequence(1, m) would count down for m < 1
    docs = _docs(spark, ["", "a", "a b", "a b c", None])
    got = {r.id: r.n for r in word_grams(docs, "w", 3).groupBy("id").agg(F.count("*").alias("n")).collect()}
    assert got == {3: 1}
    row = word_grams(docs, "w", 3).collect()[0]
    assert (row.pos, row.gram) == (1, "a b c")


def test_word_grams_step_tiles_with_a_short_last_window(spark):
    rows = word_grams(_docs(spark, ["a b c d e", "a b"]), "w", 2, step=2).collect()
    assert sorted((r.id, r.pos, r.gram) for r in rows) == [
        (0, 1, "a b"),
        (0, 3, "c d"),
        (0, 5, "e"),
        (1, 1, "a b"),
    ]


def test_short_docs_keep_their_null_and_zero_rows(spark, tmp_path):
    texts = ["", "one", "one two", "one two three", "one two three four"]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    fp = {r.doc_id: r.min_shingle_hash for r in QUERIES["doc_fingerprint"](spark, sf).collect()}
    assert sorted(fp) == [0, 1, 2, 3, 4]
    assert [fp[i] is None for i in range(5)] == [True, True, True, False, False]
    nov = {r.doc_id: r.n_grams for r in QUERIES["ngram_novelty_score"](spark, sf).collect()}
    assert nov == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2}
    for name in ("doc_fingerprint", "ngram_novelty_score"):
        assert not compare(QUERIES[name](spark, sf), ORACLES[name], sf), name


# -- events loader ---------------------------------------------------------------
_TS = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(2024, 6, 30, 23, 59, 59)]


def _write_events(sf_dir, unit: str) -> None:
    sf_dir.mkdir()
    ts = pa.array(_TS, pa.timestamp("us")).cast(pa.timestamp(unit))
    if unit == "ns":  # sub-microsecond digits, which the loader truncates
        ts = pa.array([v.value + 123 for v in ts], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
        str(sf_dir / "events.parquet"),
    )


def test_us_events_leave_nanos_setting_alone(spark, tmp_path):
    _write_events(tmp_path / "us", "us")
    pq.write_table(pa.table({"o_orderkey": pa.array([1], pa.int64())}), str(tmp_path / "us" / "orders.parquet"))
    sf = str(tmp_path / "us")
    prior = spark.conf.get(NANOS_AS_LONG)
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        load_table(spark, sf, "orders")
        events = load_table(spark, sf, "events")
        assert spark.conf.get(NANOS_AS_LONG) == "false"
        assert isinstance(events.schema["ts"].dataType, TimestampNTZType)
        # the orders schema memo is still keyed under the same settings
        assert _spark_jobs(spark, lambda: load_table(spark, sf, "orders")) == 0
    finally:
        spark.conf.set(NANOS_AS_LONG, prior)


def test_ns_events_decode_like_their_us_twin(spark, tmp_path):
    _write_events(tmp_path / "us", "us")
    _write_events(tmp_path / "ns", "ns")
    prior = spark.conf.get(NANOS_AS_LONG)
    try:
        us = load_table(spark, str(tmp_path / "us"), "events")
        ns = load_table(spark, str(tmp_path / "ns"), "events")
        assert spark.conf.get(NANOS_AS_LONG) == "true"
        assert isinstance(ns.schema["ts"].dataType, TimestampNTZType)
        rows = lambda df: sorted((r.event_id, r.ts) for r in df.collect())  # noqa: E731
        assert rows(ns) == rows(us) == [(1, _TS[0]), (2, _TS[1])]
    finally:
        spark.conf.set(NANOS_AS_LONG, prior)
