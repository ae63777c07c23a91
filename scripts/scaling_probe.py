"""Scaling spot-check for the slowest dedup-suite operators.

There is no sf1 testdata directory, so this probe scales the DOCUMENT
COUNT instead: it unions the sf0.1 documents table with itself N times
(doc_id offset per copy so ids stay unique, a word swapped per copy so
copies are near- rather than exact duplicates) and times the heavy
operators at 1x and Nx. Linear-ish growth (and CC round-count
stability) is the claim being validated; quadratic blowup in any pair
generator shows up as a >> Nx wall-clock ratio.

Run SOLO (no concurrent Spark sessions): ``python scripts/scaling_probe.py``.
Prints one JSON line per (operator, scale) plus a summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from designing_data_warehouse_in_sql_server_spark.session import get_spark  # noqa: E402
from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table  # noqa: E402
from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (  # noqa: E402
    connected_components,
    keep_best_per_component,
    lsh_candidate_pairs,
    minhash_from_shingles,
    ngram_jaccard,
    shingle_sets,
    simhash_fingerprint,
    simhash_near_pairs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE = int(os.environ.get("SPARK_GRAFT_PROBE_SCALE", "10"))


def replicated_docs(spark, n_copies: int):
    """n_copies near-duplicate copies of the documents table, ids offset
    per copy, first word replaced by a copy marker so copies are near
    (not exact) duplicates — the hard case for the pair generators."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    if n_copies == 1:
        return docs
    copies = spark.range(n_copies).select(F.col("id").alias("copy"))
    w = F.split(F.col("text"), r"\s+")
    return (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("copy") * 10_000_000).alias("doc_id"),
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(
                F.concat(F.lit("c"), F.col("copy").cast("string"), F.lit(" "),
                         F.array_join(F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(1))), " "))
            )
            .alias("text"),
        )
    )


def timed(name: str, scale: int, build):
    start = time.perf_counter()
    df = build()
    n = df.count()
    sec = round(time.perf_counter() - start, 2)
    print(json.dumps({"op": name, "scale": scale, "rows": n, "sec": sec}), flush=True)
    return sec


def run_suite(spark, scale: int) -> dict[str, float]:
    docs = replicated_docs(spark, scale).localCheckpoint(eager=True)
    out: dict[str, float] = {}

    def lsh_pairs():
        sets = shingle_sets(docs, "doc_id", "text", k=3).localCheckpoint(eager=False)
        rows = sets.select("doc_id", F.explode("__sh").alias("__s"))
        sigs = minhash_from_shingles(rows, "doc_id", bands=4, rows_per_band=2)
        return lsh_candidate_pairs(sigs, "doc_id"), sets

    out["minhash_lsh_pairs"] = timed("minhash_lsh_pairs", scale, lambda: lsh_pairs()[0])

    def jaccard():
        pairs, sets = lsh_pairs()
        return ngram_jaccard(pairs, docs, "doc_id", "text", k=3, sets=sets)

    out["ngram_jaccard"] = timed("ngram_jaccard", scale, jaccard)

    def simhash():
        fp = simhash_fingerprint(docs, "doc_id", "text", bits=32)
        return simhash_near_pairs(fp, "doc_id", max_hamming=2, n_bits=32)

    out["simhash_near_pairs"] = timed("simhash_near_pairs", scale, simhash)

    def cc():
        pairs, _ = lsh_pairs()
        return connected_components(pairs.select("id_a", "id_b"))

    out["connected_components"] = timed("connected_components", scale, cc)

    def keep_best():
        pairs, _ = lsh_pairs()
        labels = connected_components(pairs.select("id_a", "id_b"))
        return keep_best_per_component(labels, docs, "doc_id", F.length("text"))

    out["keep_best"] = timed("keep_best", scale, keep_best)
    return out


# ---------------------------------------------------------------------------
# Heavies mode (round-4 verdict ask): probe the registered heavy queries
# — two-phase rfm/abc, pagerank, M4, time-weighted average, triangle
# count — at SCALE x row count by materializing a synthetic scaled
# testdata directory (every fact/entity table replicated with per-copy
# key offsets so referential integrity holds per copy; bounded dims are
# passed through). The registered queries run unmodified against the
# probe dir, so the measured plan is exactly the driver-checked plan.
#
# Expected shape: per-row work linear; the two-phase forms' fixed driver
# barriers (range-sample + counts collect) must stay CONSTANT — their
# cost is #partitions-bounded, so the 10x ratio should sit well under
# 10 for barrier-dominated queries and near-linear for scan-dominated.
# ---------------------------------------------------------------------------
HEAVIES = (
    "customer_rfm_segmentation",
    "abc_classification",
    "pareto_frontier",
    "percent_rank_global",
    "pagerank_fixed",
    "m4_downsample",
    "time_weighted_average",
    "triangle_count",
    "incremental_agg_refresh",
    # round-5 additions over the scaled fact/event tables (documents is
    # passthrough, so the text-dedup round-5 queries are covered by the
    # dedup-suite probe's replicated corpus instead)
    "reservoir_sample_per_group",
    "rolling_range_window",
    "events_session_window",
    "recursive_month_spine",
)

# (table, key columns to offset per copy) — offsets keep per-copy FK
# integrity; nation/region/documents/embeddings pass through unscaled
_SCALED_TABLES = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
_PASSTHROUGH = ("region", "nation", "documents", "embeddings")
_OFFSET = 100_000_000


def _probe_files(spark) -> int:
    """Output-file count for the scaled tables: 2 files per core. The
    scaled corpus must land as MANY parquet files — a crossJoin off a
    1-3-split sf0.1 scan otherwise writes 1-3 ~300 MB files whose
    ~128 MB row groups cap every downstream scan at ~7-10 tasks on 32
    cores (observed: a 7-minute tokenize straggler at 100x while 31
    cores idled). Real corpora at this volume are thousands of files;
    a fixture that serializes the scan measures the fixture, not the
    operator."""
    return 2 * spark.sparkContext.defaultParallelism


def build_scaled_dir(spark, out_dir: str, n_copies: int) -> None:
    copies = spark.range(n_copies).select(F.col("id").alias("__copy"))
    for name, keys in _SCALED_TABLES.items():
        df = load_table(spark, SF_DIR, name)
        scaled = df.crossJoin(F.broadcast(copies))
        for k in keys:
            scaled = scaled.withColumn(k, F.col(k) + F.col("__copy") * _OFFSET)
        if name == "events":
            # shift each copy's timestamps by 10 years so copies occupy
            # DISJOINT (event_type, time-bucket) keys — real linear
            # growth. Without this, every copy's users pile into the
            # same buckets and bucket-joined queries (triangle_count)
            # grow quadratically by construction, falsely flagging
            # superlinear scaling.
            scaled = scaled.withColumn(
                "ts", F.timestamp_add("YEAR", F.col("__copy") * 10, F.col("ts"))
            )
        scaled.drop("__copy").repartition(_probe_files(spark)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{name}.parquet"))
    for name in _PASSTHROUGH:
        load_table(spark, SF_DIR, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def run_heavies(spark, sf_dir: str, scale: int) -> dict[str, float]:
    import __spark_entry__ as e

    qs = e.queries()
    out: dict[str, float] = {}
    for name in HEAVIES:
        if name not in qs:
            continue
        start = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - start, 2)
        print(json.dumps({"op": name, "scale": scale, "sec": out[name]}), flush=True)
    return out


def main_heavies() -> None:
    import tempfile

    # the claim under test is the TWO-PHASE forms' barrier behavior (the
    # 100 TB side of the size-adaptive dispatch) — force it regardless
    # of the probe's row counts, which sit below the dispatch threshold
    from designing_data_warehouse_in_sql_server_spark.operators import ids

    ids.WINDOW_FORM_MAX_ROWS = -1

    spark = get_spark("ddw-scaling-probe-heavies")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = run_heavies(spark, SF_DIR, 1)
    with tempfile.TemporaryDirectory(prefix="ddw_probe_sf1_") as tmp:
        build_scaled_dir(spark, tmp, SCALE)
        scaled = run_heavies(spark, tmp, SCALE)
    summary = {
        "mode": "heavies",
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base.get(k) else None for k in scaled},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Frontier mode (round-5 verdict ask): push the four frontier claims —
# pagerank_fixed, triangle_count, m4_downsample (registered queries over
# a scaled dir), simhash_near_pairs (operator over a salted corpus) —
# from the 10x probe to 100x, where constant-factor cliffs (shuffle
# spill, window sort spill) would show. Only the tables those queries
# read (lineitem, orders, events) are scaled; the rest pass through.
#
# The simhash corpus salts EVERY word with the copy index, so copies
# occupy DISJOINT similarity neighborhoods (the replicated_docs fixture
# would make all N copies of a doc mutually near-dup — true-pair count,
# and hence honest wall-clock, quadratic in N by construction; salting
# mirrors the heavies fixture's 10-year timestamp offsets: growth is
# linear because the planted structure is). Expected pairs = N x the
# 1x corpus's internal near-dup pairs.
# ---------------------------------------------------------------------------
FRONTIER = ("pagerank_fixed", "triangle_count", "m4_downsample")
_FRONTIER_TABLES = {k: v for k, v in _SCALED_TABLES.items()
                    if k in ("lineitem", "orders", "events")}


def salted_docs(spark, n_copies: int):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    if n_copies == 1:
        return docs
    copies = spark.range(n_copies).select(F.col("id").alias("copy"))
    words = F.split(F.trim(F.col("text")), r"\s+")
    salted = F.array_join(
        F.transform(words, lambda w: F.concat(w, F.lit("x"), F.col("copy").cast("string"))),
        " ",
    )
    return docs.crossJoin(F.broadcast(copies)).select(
        (F.col("doc_id") + F.col("copy") * 10_000_000).alias("doc_id"),
        salted.alias("text"),
    )


def main_frontier() -> None:
    import tempfile

    global _SCALED_TABLES
    _SCALED_TABLES = _FRONTIER_TABLES

    spark = get_spark("ddw-scaling-probe-frontier")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def simhash_at(scale: int) -> float:
        docs = salted_docs(spark, scale).localCheckpoint(eager=True)
        return timed(
            "simhash_near_pairs",
            scale,
            lambda: simhash_near_pairs(
                simhash_fingerprint(docs, "doc_id", "text", bits=32),
                "doc_id",
                max_hamming=2,
                n_bits=32,
            ),
        )

    base = run_heavies_named(spark, SF_DIR, 1, FRONTIER)
    base["simhash_near_pairs"] = simhash_at(1)
    with tempfile.TemporaryDirectory(prefix="ddw_probe_frontier_") as tmp:
        build_scaled_dir(spark, tmp, SCALE)
        scaled = run_heavies_named(spark, tmp, SCALE, FRONTIER)
    scaled["simhash_near_pairs"] = simhash_at(SCALE)
    summary = {
        "mode": "frontier",
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base.get(k) else None for k in scaled},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


def run_heavies_named(spark, sf_dir: str, scale: int, names) -> dict[str, float]:
    import __spark_entry__ as e

    qs = e.queries()
    out: dict[str, float] = {}
    for name in names:
        start = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - start, 2)
        print(json.dumps({"op": name, "scale": scale, "sec": out[name]}), flush=True)
    return out


# ---------------------------------------------------------------------------
# build_sf1 mode (round-5 verdict ask 8): materialize a PERSISTENT
# 10x-sf0.1 ("sf1") testdata dir so `SPARK_GRAFT_SF_DIR=<dir>/sf1
# python bench.py` measures the FULL registry at 10x data. All
# fact/entity tables get the heavies treatment (key offsets, disjoint
# 10-year time shifts); documents get per-copy word salting (disjoint
# similarity neighborhoods — near-dup structure grows linearly);
# embeddings get a per-copy cyclic rotation (norm-preserving, so copies
# are far apart and ANN outputs grow linearly). nation/region pass
# through (bounded dims). An sf0.001 symlink is laid beside it so
# bench.py's warm-up pass resolves.
# ---------------------------------------------------------------------------
def write_scaled_text_tables(spark, out_dir: str, n_copies: int) -> None:
    """Scaled documents + embeddings: per-copy word salting gives
    disjoint vocabularies / similarity neighborhoods (near-dup and
    vocab structure grow linearly, never pairwise across copies);
    embeddings get a norm-preserving cyclic rotation by (copy mod dim)
    — past dim copies the direction repeats, which only adds exact
    ties to bounded top-k outputs, never candidate blowup."""
    salted_docs(spark, n_copies).join(
        F.broadcast(
            load_table(spark, SF_DIR, "documents").select(
                F.col("doc_id").alias("__orig"), "lang", "source"
            )
        ),
        F.col("doc_id") % 10_000_000 == F.col("__orig"),
    ).drop("__orig").withColumn(
        "n_chars", F.length("text").cast("long")  # true length of the salted text
    ).repartition(_probe_files(spark)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    write_scaled_embeddings(spark, out_dir, n_copies)


def write_scaled_embeddings(spark, out_dir: str, n_copies: int) -> None:
    emb = load_table(spark, SF_DIR, "embeddings")
    copies = spark.range(n_copies).select(F.col("id").alias("__copy"))
    dim = len(emb.select("embedding").first()[0])
    rot = F.col("__copy") % dim
    rotated = F.concat(
        F.slice(F.col("embedding"), rot + 1, F.lit(dim) - rot),
        F.slice(F.col("embedding"), 1, rot),
    )
    emb.crossJoin(F.broadcast(copies)).select(
        (F.col("vec_id") + F.col("__copy") * 10_000_000).alias("vec_id"),
        rotated.alias("embedding"),
        "label",
    ).repartition(_probe_files(spark)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def build_sf1(out_root: str) -> None:
    spark = get_spark("ddw-build-sf1")
    sf1 = os.path.join(out_root, "sf1")
    os.makedirs(sf1, exist_ok=True)
    build_scaled_dir(spark, sf1, SCALE)
    write_scaled_text_tables(spark, sf1, SCALE)
    warm = os.path.join(out_root, "sf0.001")
    if not os.path.exists(warm):
        os.symlink("/root/testdata/sf0.001", warm)
    print(json.dumps({"mode": "build_sf1", "dir": sf1, "scale": SCALE}), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-7 frontier: push the three new heavy kernels to the 100x
# frontier. bfs_khop's seeds (s_suppkey <= 10) live only in the FIRST
# copy of the key-offset scaled graph, so the probe separates the two
# cost components the operator header claims: edge derivation is a
# linear full scan, but frontier expansion work tracks the seed
# NEIGHBORHOOD, not the (100x bigger) graph. set_similarity_prefix_join
# sees disjoint per-copy part catalogs (per-part df scale-invariant) —
# candidate volume must stay linear. covariance_matrix is the pure
# scan + DECIMAL(38) aggregate control.
# ---------------------------------------------------------------------------
FRONTIER_R7 = ("bfs_khop", "set_similarity_prefix_join", "covariance_matrix")


def run_frontier(
    mode: str, names: tuple[str, ...], scale_text_tables: bool = False,
    scale_fact_tables: bool = True,
) -> None:
    """Shared frontier runner: 1x vs SCALE-x on the lineitem/orders/
    events key-offset tables; dimensions (incl. supplier — seed sets
    like bfs/bellman's s_suppkey <= K live in the first key-offset copy
    by design) pass through unscaled. ``scale_text_tables`` additionally
    replaces the documents/embeddings passthrough with the salted-vocab
    / rotated-vector scaling (modes whose kernels read them).
    ``scale_fact_tables=False`` skips the lineitem/orders/events build
    entirely for modes whose queries read only the text tables — at
    SCALE=100 that build is minutes of wall clock and GBs of disk spent
    on passthrough scaffolding nobody scans."""
    import tempfile

    global _SCALED_TABLES, _PASSTHROUGH
    _SCALED_TABLES = _FRONTIER_TABLES if scale_fact_tables else {}
    _PASSTHROUGH = ("region", "nation", "documents", "embeddings", "supplier",
                    "customer", "part")
    if not scale_fact_tables:
        _PASSTHROUGH = ()

    spark = get_spark(f"ddw-scaling-probe-{mode}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = run_heavies_named(spark, SF_DIR, 1, names)
    with tempfile.TemporaryDirectory(prefix=f"ddw_probe_{mode}_") as tmp:
        build_scaled_dir(spark, tmp, SCALE)
        if scale_text_tables:
            write_scaled_text_tables(spark, tmp, SCALE)
        scaled = run_heavies_named(spark, tmp, SCALE, names)
    summary = {
        "mode": mode,
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base.get(k) else None for k in scaled},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-7 wave-5 frontier: the two new heavy kernels at the 100x
# frontier. fifo_allocation's bucketed interval join must keep
# candidates ~ rows x (qty/B + 1) (linear — key-offset copies give
# disjoint per-part ledgers, each the same size, so per-part cumulative
# ranges are scale-invariant). bellman_ford_mincost separates the same
# two cost components as bfs_khop: edge derivation is a linear scan of
# the 100x graph, but delta-relaxation work tracks the seed copy's
# neighborhood only (seeds s_suppkey <= 5 live in the first key-offset
# copy by construction).
# ---------------------------------------------------------------------------
FRONTIER_W5 = ("fifo_allocation", "bellman_ford_mincost")


# ---------------------------------------------------------------------------
# Round-7 wave-6 frontier: kcore_decomposition's peel rounds must track
# surviving edges (key-offset copies give 100 disjoint subgraphs, each
# identical to the 1x graph, so per-round keep-sets scale linearly);
# temporal_split_embargo is one user-partitioned window pass whose only
# growth is the fact scan + sort within each user's partition.
# ---------------------------------------------------------------------------
FRONTIER_W6 = ("kcore_decomposition", "temporal_split_embargo")

# ---------------------------------------------------------------------------
# Round-8 frontier (VERDICT r7 #4): the round-7 kernels never pushed to
# the 100x frontier — the BPE trainer's K driver-argmax loop and the
# e2e pipeline's TableStore round-trips are the two most likely to hide
# a super-linear surprise — plus the new bpe_encode_corpus and a RE-RUN
# of set_similarity_prefix_join after the round-8 PPJoin length filter.
# Unlike the other frontier modes this one scales documents/embeddings
# too (salted vocabularies, rotated vectors — the BPE and JL kernels
# read them); pipeline_end_to_end and snapshot_diff derive their inputs
# from orders, so the key-offset fact scaling carries them.
# ---------------------------------------------------------------------------
FRONTIER_R8 = (
    "snapshot_diff",
    "jl_projection_topk",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "set_similarity_prefix_join",
    "pipeline_end_to_end",
)


# Round-8 second wave: the core text-dedup family at the 100x frontier
# (previously probed at 10x only, via the round-2 replicated-corpus
# suite). The salted corpus gives every copy a disjoint vocabulary, so
# the _with_near_copies planted near-dups pair only within their copy:
# true-pair count, LSH candidate volume, and component count all grow
# linearly by construction; component diameter stays constant, so
# pointer-jumping round counts must hold.
FRONTIER_DEDUP = (
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "dedup_keep_best",
    "dedup_incremental_lsh_store",
    "prepare_corpus",
)


# Round-8 third wave: the remaining heavy pair-generator / sketch
# queries never pushed past 10x. association_rules is a basket
# self-join (the classic quadratic risk — bounded here by per-order
# basket size); ngram_jaccard/containment are banded text joins over
# the salted corpus; approx_distinct and data_quality_profile are the
# sketch/profile controls (scan-shaped, mergeable aggregates).
FRONTIER_MISC = (
    "association_rules",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "decontaminate_bloom",
    "approx_distinct",
    "data_quality_profile",
)


# Round-8 fourth wave: the grouped two-phase prefix-sum family in its
# FORCED two-phase form (WINDOW_FORM_MAX_ROWS=-1, like the heavies
# mode) at 100x — certifies the round-7 weighted-median fix (the r6
# per-group single-task sort ceiling) at frontier scale: per-task work
# must stay partition-bounded, driver barriers #partitions-bounded.
# percent_rank_global is deliberately NOT here: it reads `part`, which
# the frontier recipe passes through unscaled, so its ratio would
# certify nothing (auc_roc's embeddings DO scale via scale_text).
FRONTIER_TWOPHASE = (
    "weighted_median",
    "conversion_lag_median",
    "auc_roc",
)


# Round-8 fifth wave: semantic_dedup (SemDeDup cluster-then-prune) —
# the exact algorithm is O(n^1.5) by construction (k = sqrt(n) balances
# O(n*k) Lloyd assignment against the O(n * n/k) within-cluster prune),
# so the honest expectation at 100x data is a ratio well ABOVE 100x on
# the compute term, damped by fixed overhead at 1x; the probe records
# where the crossover sits and the adjudication explains the n^1.5
# contract (with IVF-pruned assignment as the approximate path past it).
FRONTIER_SEMDEDUP = ("semantic_dedup",)


# mode -> (query names, scale documents/embeddings too)
# ---------------------------------------------------------------------------
# Round-8b frontier: the statistical/layout/search wave at 100x.
# spearman_rank_corr is the one with real superlinear risk (the price
# rank map is a near-distinct-value relation joined back onto the
# fact; above WINDOW_FORM_MAX_ROWS the footer hint flips the prefix
# sum to the two-phase range-partitioned form — the probe exercises
# exactly that dispatch). hilbert_layout_key is the 16-level pure
# projection (must be scan-linear). ks/wasserstein/mannwhitney
# collapse the fact to a price-DOMAIN-bounded counts relation (the
# key-offset copies keep the value domain fixed, so their windows are
# scale-invariant and the ratio should be dominated by the scan).
# js_divergence_sources and rrf_hybrid_search read the salted text /
# rotated embedding tables; rrf's lists stay top-N bounded.
# ---------------------------------------------------------------------------
FRONTIER_R8B = (
    "spearman_rank_corr",
    "hilbert_layout_key",
    "ks_test_two_sample",
    "wasserstein_1d",
    "mannwhitney_u_test",
    "js_divergence_sources",
    "rrf_hybrid_search",
)

# Round-8c frontier: winnowing after its two scale fixes (spread before
# the hash projection; MOSS-style df cap on fingerprints). Reads only
# the documents table — skip the fact build.
FRONTIER_R8C = ("winnow_fingerprint_pairs",)

# Round-9 frontier (VERDICT r8 #7): the two adjudications that rested
# on sf1 evidence plus argument, now measured — winnowing AFTER the
# single-exchange rewrite (collect_set + array-side pair HOF; the r8
# run conceded ~2.1x over linear to its three full-relation
# exchanges), and BOTH semantic_dedup forms side by side: the exact
# O(n^1.5) anchor vs the new O(n^1.25) IVF-pruned registered form —
# the probe certifies the IVF curve sits materially below the exact
# one. All three read only the text tables — skip the fact build.
FRONTIER_R9 = (
    "winnow_fingerprint_pairs",
    "semantic_dedup",
    "semantic_dedup_ivf",
)

# Round-9b frontier: the new corpus-curation wave at 100x. All six
# read only the text tables (documents/embeddings) — skip the fact
# build. Claims under test: dup_span_fraction / corpus_curation_funnel
# never enumerate pairs (df is a hash aggregate; the salted-vocab
# copies keep true span structure linear); ngram_novelty's MIN window
# rides one gram exchange; dsir's bucket stats stay <= 8192 rows at
# any scale; ann_recall's panel and embedding_quantize's per-row HOFs
# are scan-dominated.
FRONTIER_R9B = (
    "dup_span_fraction",
    "ngram_novelty_score",
    "dsir_importance_weights",
    "corpus_curation_funnel",
    "ann_recall_at_k",
    "embedding_quantize_int8",
)

# Round-9c: hard_negative_mining landed after the r9b run — same
# scored-relation + rank-window shape as ann_recall_at_k (certified
# 3.9x there), probed in its own right.
FRONTIER_R9C = ("hard_negative_mining",)

# Round-9d: the late round-9 curation trio. gopher_quality_rules and
# hash_classifier_score are scan-shaped controls (one projection / one
# explode+aggregate — both must track the text volume); the claim
# under real test is source_overlap_matrix's gram-bounded pair
# expansion: the salted-vocab copies make each copy's grams disjoint,
# so per-gram source sets — and therefore the |sources|^2-bounded pair
# explode — must stay flat while gram volume grows linearly.
FRONTIER_R9D = (
    "gopher_quality_rules",
    "hash_classifier_score",
    "source_overlap_matrix",
)

# Round-9e: tokenizer_fertility landed after the r9d run. Its cost is
# bpe_encode_corpus (certified scan-linear 42.5x in frontier_r8) plus
# one doc-level join and a |sources|-row aggregate; the probe pins
# that the composition adds nothing superlinear.
FRONTIER_R9E = ("tokenizer_fertility",)

# Round-9f: curriculum_phases landed after the r9e run — the
# classifier scan (6.4x at 100x in r9d) through the two-phase exact
# NTILE (the forced-two-phase family certified in frontier_twophase);
# the probe pins that the global quartile's sampled-offsets rank stays
# scan-class on the 100x corpus.
FRONTIER_R9F = ("curriculum_phases",)

# Round-9g: the REJECTED source_overlap_matrix variant's probe (kept
# for reproducibility). A single-corpus-explode rewrite (gram-level
# collect_set checkpointed once for both the pair cross and the
# per-source totals; 5 exchanges -> 3) measured ~7% faster at sf0.1
# but 159.3 s vs 58.4 s at 100x: the checkpoint materializes the
# full gram relation (~100x grams, mostly singleton source sets),
# and that serialization dominates exactly where the saved re-scan
# should have paid. The registered form keeps the two streaming
# explodes; the full adjudication lives in the operator's comment.
FRONTIER_R9G = ("source_overlap_matrix",)

# Round-9h: lsh_recall_certification — the exact prefix-join truth
# side (its lineitem twin measured linear-class 78x solo) composed
# with the banded LSH candidates (12x) and a candidate-bounded left
# join on the salted 100x corpus.
FRONTIER_R9H = ("lsh_recall_certification",)

# Round-9i: the late-round curation five. stupid_backoff_lm is the
# heavy one (bigram explode collapsed to per-doc gram counts, then
# three vocabulary joins — salted vocab grows the bigram model 100x,
# the worst case); lexical_diversity and frechet_embedding_distance
# are scan+aggregate controls; bitext_margin_mining / knn_label_noise
# are corpus x constant-panel passes (the hard_negative_mining shape,
# certified 6.6x there) whose panels stay first-copy-bounded by
# construction (vec_id < 40/60).
FRONTIER_R9I = (
    "stupid_backoff_lm",
    "lexical_diversity",
    "frechet_embedding_distance",
    "bitext_margin_mining",
    "knn_label_noise",
)

# Round-9j: template_prefix_clusters landed after the r9i run — a
# per-row slice+join key (no explode) into one prefix hash aggregate;
# the probe pins that the head-template scan tracks text volume.
FRONTIER_R9J = ("template_prefix_clusters",)

# Round-9k: the remaining bench-heavy FACT kernels never individually
# pushed to 100x — the bucketed event range join, the two exact
# quantile forms (size-adaptive dispatch flips at this scale), the
# 30-row rolling correlation window, the recursive month spine (depth
# grows with the key-offset copies' 10-year shifts), MAD outliers'
# double median, and read_skipping's footer-stats pruning measured on
# a 100x TableStore write. basket_brand_pairs is deliberately NOT
# here: the shared recipe passes `part` through with offset partkeys,
# emptying its lineitem JOIN part — the documented association_rules
# trap; its pair kernel is association_rules' certified 19.7x class.
FRONTIER_R9K = (
    "range_join_event_pairs",
    "quantile_cont",
    "quantile_disc",
    "rolling_correlation",
    "recursive_month_spine",
    "mad_outliers",
    "read_skipping",
)

# Round-9l: minhash_jaccard_estimate — the signature-based estimate
# join (the frontier_dedup wave certified the banded candidate path;
# this is the estimate-only variant sharing one signature evaluation).
FRONTIER_R9L = ("minhash_jaccard_estimate",)

# Round-9m: the last three bench-heavy queries without their own
# frontier row — incremental_agg_refresh (watermark-pruned partition
# recompute must track the INCREMENT, not the table), the one-scan
# Poisson bootstrap (B-replicate shuffle bounded by B x groups), and
# table_restore_roundtrip (hard-link O(files) RESTORE + CLONE around a
# scan-shaped write).
FRONTIER_R9M = (
    "incremental_agg_refresh",
    "poisson_bootstrap_ci",
    "table_restore_roundtrip",
)

# Round-11 (VERDICT r10 #3): text simhash AFTER the 64-bit + dispatch
# rewrite, on the same salted 100x corpus (500k docs) that drove the
# committed 32-bit segment row to 370.45 s. Three timings per scale:
# the REGISTERED dispatch semantics (64-bit segment form below the
# ~20M-doc crossover), the Manku multi-table arm at the same width
# (expected SLOWER here — its 28-row explode is repaid only past the
# crossover; the row documents the dispatch threshold's direction),
# and the retired 32-bit segment form at 1x for the A/B anchor.
# ---------------------------------------------------------------------------
def main_frontier_r11_simhash() -> None:
    spark = get_spark("ddw-scaling-probe-r11-simhash")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
        simhash_near_pairs_multitable,
    )

    out = {}
    for scale in (1, SCALE):
        docs = salted_docs(spark, scale).localCheckpoint(eager=True)

        def fp64():
            return simhash_fingerprint(docs, "doc_id", "text", bits=64)

        out[f"seg64_{scale}x"] = timed(
            "simhash_seg64", scale,
            lambda: simhash_near_pairs(fp64(), "doc_id", max_hamming=2, n_bits=64),
        )
        out[f"multi64_{scale}x"] = timed(
            "simhash_multi64", scale,
            lambda: simhash_near_pairs_multitable(
                fp64(), "doc_id", max_hamming=2, n_bits=64, n_blocks=8
            ),
        )
    summary = {
        "mode": "frontier_r11_simhash",
        "scale": SCALE,
        "ratios": {
            "seg64": round(out[f"seg64_{SCALE}x"] / out["seg64_1x"], 2),
            "multi64": round(out[f"multi64_{SCALE}x"] / out["multi64_1x"], 2),
        },
        "timings": out,
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-11b: the round's four new registered queries at the frontier.
# llm_pipeline_end_to_end is the one with composition risk: funnel
# filters + text-key window + dup-span kernel (all certified linear),
# then LSH+CC over the salted corpus (disjoint copies -> planted pairs
# only within a copy), survivor-trained BPE (the 42.5x encode class),
# one doc-level ordered pass, and an O(tokens) store write — expect
# the encode class to dominate. packed_shard_manifest adds one
# seq-keyed hash aggregate to the certified manifest. The two
# certifications are fixed-rate samples of the corpus through the
# certified banded/winnowing pair machinery (image: the Manku
# dispatch fires above 100k assets at this scale).
FRONTIER_R11B = (
    "llm_pipeline_end_to_end",
    "packed_shard_manifest",
)

# Round-11c: the two multimodal recall certifications on the
# GRID-DISJOINT rotated fixture (main_frontier_r10c's builder — word
# salting leaves byte-adjacent grids nearly identical across copies,
# so under the salted fixture every copy pair is a true near-dup and
# the banded join's OUTPUT is quadratic in copies; measured: the
# image cert ran >20 min at 100x salted before being killed, the
# documented r10c artifact). Rotation gives each copy a distinct
# byte-grid/frame region: planted structure stays the per-asset
# mutation tiers the queries build themselves, linear in the corpus.
FRONTIER_R11C = (
    "image_phash_recall_certification",
    "video_frame_recall_certification",
)

# Round-10: lsh_recall_certification AFTER the truth-side fingerprint
# rewrite (VERDICT r9 #2): raw string shingles -> 40-bit polynomial
# BIGINTs in every truth-side shuffle. The r9h run exceeded this host's
# ~80 GB spill disk at 100x even under the 1-in-4 sample; the ~5-10x
# shuffle-byte cut is exactly what should bring the probe home.
FRONTIER_R10 = ("lsh_recall_certification",)

# Round-10c: image_near_dup_phash RE-RUN after the size-adaptive
# multi-table dispatch (the segment form's 13-bit keys measured 460x
# at 100x — candidate volume n²/2^13; the Manku C(8,4) tables cut
# random candidates to 70·n²/2^32) — on a GRID-disjoint fixture: the
# shared salted-docs scaling appends a copy suffix to every WORD,
# which leaves the byte-adjacent comparisons a dHash grid is built
# from almost untouched, so copies i and j of the same document are
# TRUE near-dups of each other (hamming <= 4) and the planted pair
# structure is quadratic in copies BY CONSTRUCTION (~25M pairs at
# 100x — an output-size artifact, not an operator cost). Rotating
# each copy's text by a copy-dependent offset gives every copy a
# different 72-byte grid region: within-copy diversity preserved,
# across-copy grids unrelated, planted structure linear — the same
# disjointness discipline the salted fixture provides for word-level
# operators, applied to the byte-grid level this operator reads.
FRONTIER_R10C = ("image_near_dup_phash",)


def main_frontier_rotated(mode: str, names: tuple[str, ...]) -> None:
    import tempfile

    spark = get_spark(f"ddw-scaling-probe-{mode}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = run_heavies_named(spark, SF_DIR, 1, names)
    with tempfile.TemporaryDirectory(prefix=f"ddw_probe_{mode}_") as tmp:
        docs = load_table(spark, SF_DIR, "documents")
        copies = spark.range(SCALE).select(F.col("id").alias("__copy"))
        # rotation offset: co-prime-ish stride so distinct copies read
        # distinct grid regions; modulo doc length keeps it valid
        off = (F.col("__copy") * 131 + 1) % F.greatest(F.length("text"), F.lit(1))
        rotated = F.concat(
            F.expr("substr(text, CAST(__off AS INT) + 1)"),
            F.expr("substr(text, 1, CAST(__off AS INT))"),
        )
        docs.crossJoin(F.broadcast(copies)).withColumn("__off", off).select(
            (F.col("doc_id") + F.col("__copy") * 10_000_000).alias("doc_id"),
            rotated.alias("text"),
            "lang",
            "source",
            F.length("text").cast("long").alias("n_chars"),
        ).repartition(_probe_files(spark)).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        scaled = run_heavies_named(spark, tmp, SCALE, names)
    summary = {
        "mode": mode,
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base.get(k) else None
                   for k in scaled},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()

_FRONTIER_MODES = {
    "frontier_r7": (FRONTIER_R7, False),
    "frontier_w5": (FRONTIER_W5, False),
    "frontier_w6": (FRONTIER_W6, False),
    "frontier_r8": (FRONTIER_R8, True),
    "frontier_r8b": (FRONTIER_R8B, True),
    "frontier_r8c": (FRONTIER_R8C, True, False),
    "frontier_dedup": (FRONTIER_DEDUP, True),
    "frontier_misc": (FRONTIER_MISC, True),
    "frontier_twophase": (FRONTIER_TWOPHASE, True),
    # semantic_dedup reads embeddings only: skip the 100x fact build
    "frontier_semdedup": (FRONTIER_SEMDEDUP, True, False),
    "frontier_r9": (FRONTIER_R9, True, False),
    "frontier_r9b": (FRONTIER_R9B, True, False),
    "frontier_r9c": (FRONTIER_R9C, True, False),
    "frontier_r9d": (FRONTIER_R9D, True, False),
    "frontier_r9e": (FRONTIER_R9E, True, False),
    "frontier_r9f": (FRONTIER_R9F, True, False),
    "frontier_r9g": (FRONTIER_R9G, True, False),
    "frontier_r9h": (FRONTIER_R9H, True, False),
    "frontier_r9i": (FRONTIER_R9I, True, False),
    "frontier_r9j": (FRONTIER_R9J, True, False),
    "frontier_r9k": (FRONTIER_R9K, False),
    "frontier_r9l": (FRONTIER_R9L, True, False),
    "frontier_r9m": (FRONTIER_R9M, False),
    "frontier_r10": (FRONTIER_R10, True, False),
    "frontier_r11b": (FRONTIER_R11B, True, False),
}


# ---------------------------------------------------------------------------
# Round-10 IVF crossover (VERDICT r9 #7): semantic_dedup_ivf's docstring
# claims "production deepens the hierarchy" because the flat two-level
# form's ASSIGNMENT term is O(n * (m + p*k/m)) = O(n^1.25) while the
# prune is O(n*S) linear — this probe turns that prose into a measured
# crossover table. At each scale it times (a) the assignment sub-DAG
# alone (rebalance -> coarse scoring -> probe cells -> fine argmin, the
# exact stages the registered query runs) and (b) the full registered
# operator, and reports the assignment share. The scale where
# t_assign > t_total/2 is where a third level starts paying.
# ---------------------------------------------------------------------------
def write_dense_scaled_embeddings(spark, out_dir: str, n_copies: int) -> None:
    """Crossover-probe variant of write_scaled_embeddings with DENSE ids
    (new_id = orig_id * n_copies + copy): the registered operators
    derive seed centroids from an id-range filter (vec_id < k), which
    assumes the production contract of dense surrogate ids — the shared
    offset scaling (copy * 10M) leaves only the 2000 original ids below
    any k, silently shrinking the effective centroid count and growing
    cluster size with scale (the measured 300x prune blowup that led to
    this fixture). Copies of one original are cyclic rotations, so the
    densely-interleaved seeds are distinct directions."""
    emb = load_table(spark, SF_DIR, "embeddings")
    copies = spark.range(n_copies).select(F.col("id").alias("__copy"))
    dim = len(emb.select("embedding").first()[0])
    rot = F.col("__copy") % dim
    rotated = F.concat(
        F.slice(F.col("embedding"), rot + 1, F.lit(dim) - rot),
        F.slice(F.col("embedding"), 1, rot),
    )
    emb.crossJoin(F.broadcast(copies)).select(
        (F.col("vec_id") * n_copies + F.col("__copy")).alias("vec_id"),
        rotated.alias("embedding"),
        "label",
    ).repartition(_probe_files(spark)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def main_ivf_crossover() -> None:
    import math
    import tempfile

    from designing_data_warehouse_in_sql_server_spark.operators import (
        clustering as C,
    )
    from designing_data_warehouse_in_sql_server_spark.operators.similarity import (
        quantized,
    )
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        SEMDEDUP_IVF_CLUSTER_SIZE,
        SEMDEDUP_IVF_NPROBE,
        SEMDEDUP_THRESHOLD,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import (
        table_row_count,
    )

    spark = get_spark("ddw-ivf-crossover")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def timed_min(thunk, trials: int = 2) -> float:
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 2)

    rows = []
    for scale in (1, 10, 30, 100, 300):
        with tempfile.TemporaryDirectory(prefix="ddw_ivf_xover_") as tmp:
            write_dense_scaled_embeddings(spark, tmp, scale)
            n = table_row_count(tmp, "embeddings")
            k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))
            m = max(2, math.isqrt(k))
            emb = load_table(spark, tmp, "embeddings")

            def assign_only():
                q = C._rebalanced(
                    emb.select(
                        "vec_id", quantized(F.col("embedding")).alias("__qv")
                    )
                )
                fine = q.filter(F.col("vec_id") < k).select(
                    F.col("vec_id").alias("cid"), F.col("__qv").alias("__cv")
                )
                coarse = q.filter(F.col("vec_id") < m).select(
                    F.col("vec_id").alias("__ccid"), F.col("__qv").alias("__ccv")
                )
                cells = C._ivf_cells(fine, coarse)
                return C._ivf_assign(
                    q, cells, coarse, SEMDEDUP_IVF_NPROBE, "vec_id"
                )

            # best-of-2 each, TOTAL first: the first execution at a
            # scale pays one-time codegen that must not be billed to
            # the assignment sub-DAG
            t_total = timed_min(
                lambda: C.semantic_dedup_ivf(
                    emb, k=k, m=m, n_probe=SEMDEDUP_IVF_NPROBE,
                    threshold=SEMDEDUP_THRESHOLD,
                )
            )
            t_assign = timed_min(assign_only)
            row = {
                "scale": scale, "n": n, "k": k, "m": m,
                "t_assign": t_assign, "t_total": t_total,
                "assign_share": round(t_assign / t_total, 3) if t_total else None,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps({"mode": "ivf_crossover", "rows": rows}), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-10 second wave: the four new operators at the 100x frontier.
# semantic_dedup_incremental_store's claim is O(|batch|) per increment
# against the stored index — batch and corpus both scale 100x here, so
# the honest expectation is the IVF assignment class plus the
# store-write term; its embeddings are DENSE-id scaled (the id-range
# seed rule is the operator's documented production contract — the
# offset scaling would silently shrink the centroid count, see
# write_dense_scaled_embeddings). packed_sequence_roundtrip is the BPE
# encode class (42.5x certified in frontier_r8) plus the one doc-level
# ordered pass and a token-linear store write.
# image_near_dup_phash / video_near_dup_frames are mapInPandas scans
# into banded/df-capped pair joins over the salted corpus (disjoint
# texts -> planted pairs only within a copy, linear by construction).
# ---------------------------------------------------------------------------
def main_frontier_r10b() -> None:
    import tempfile

    spark = get_spark("ddw-scaling-probe-frontier-r10b")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = (
        "packed_sequence_roundtrip",
        "image_near_dup_phash",
        "video_near_dup_frames",
        "semantic_dedup_incremental_store",
    )
    base = run_heavies_named(spark, SF_DIR, 1, names)
    with tempfile.TemporaryDirectory(prefix="ddw_probe_r10b_") as tmp:
        # documents: salted vocab (disjoint copies); embeddings: dense
        # ids (the seed-rule contract) — built directly, no fact tables
        salted_docs(spark, SCALE).join(
            F.broadcast(
                load_table(spark, SF_DIR, "documents").select(
                    F.col("doc_id").alias("__orig"), "lang", "source"
                )
            ),
            F.col("doc_id") % 10_000_000 == F.col("__orig"),
        ).drop("__orig").withColumn(
            "n_chars", F.length("text").cast("long")
        ).repartition(_probe_files(spark)).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        write_dense_scaled_embeddings(spark, tmp, SCALE)
        scaled = run_heavies_named(spark, tmp, SCALE, names)
    summary = {
        "mode": "frontier_r10b",
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base.get(k) else None
                   for k in scaled},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-10 ivf3 A/B: the three-level hierarchy against the flat
# two-level form at the dense-id frontier scales where the crossover
# table showed assignment dominating (86-88%). The claim under test:
# per-row scoring (1+2p)*k^(1/3) vs ~3*sqrt(k) turns into a measured
# wall-clock gap that WIDENS with scale.
# ---------------------------------------------------------------------------
def main_ivf3_ab() -> None:
    import math
    import tempfile

    from designing_data_warehouse_in_sql_server_spark.operators import (
        clustering as C,
    )
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        SEMDEDUP_IVF_CLUSTER_SIZE,
        SEMDEDUP_IVF_NPROBE,
        SEMDEDUP_THRESHOLD,
        _icbrt,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import (
        table_row_count,
    )

    spark = get_spark("ddw-ivf3-ab")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def timed_min(thunk, trials: int = 2) -> float:
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 2)

    rows = []
    for scale in (100, 300):
        with tempfile.TemporaryDirectory(prefix="ddw_ivf3_ab_") as tmp:
            write_dense_scaled_embeddings(spark, tmp, scale)
            n = table_row_count(tmp, "embeddings")
            k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))
            m = max(2, math.isqrt(k))
            c = max(2, _icbrt(k))
            m2 = max(4, c * c)
            emb = load_table(spark, tmp, "embeddings")
            t2 = timed_min(
                lambda: C.semantic_dedup_ivf(
                    emb, k=k, m=m, n_probe=SEMDEDUP_IVF_NPROBE,
                    threshold=SEMDEDUP_THRESHOLD,
                )
            )
            t3 = timed_min(
                lambda: C.semantic_dedup_ivf3(
                    emb, k=k, m2=m2, c=c, n_probe=SEMDEDUP_IVF_NPROBE,
                    threshold=SEMDEDUP_THRESHOLD,
                )
            )
            row = {
                "scale": scale, "n": n, "k": k, "m": m, "c": c, "m2": m2,
                "t_ivf2": t2, "t_ivf3": t3,
                "speedup": round(t2 / t3, 2) if t3 else None,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps({"mode": "ivf3_ab", "rows": rows}), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# Round-11 fixed-batch increment probe (VERDICT r10 #5): the
# PRODUCTION claim of semantic_dedup_incremental_store is O(|batch|)
# per increment against a stored index — the r10 frontier row (13.94x)
# scaled batch AND corpus together, so the per-increment claim stayed
# prose. Here the batch is FIXED (the 2000 base vectors, ids shifted
# above every corpus id) while the stored corpus index grows
# 1x/10x/100x (dense-id scaling, the seed-rule contract). The honest
# model is NOT perfectly flat: per batch vector, assignment scores
# m + p*k/m ~ 3*sqrt(k) centroids (k grows with the corpus at fixed
# cluster size), and the prune joins cluster-size-bounded members —
# so expect slow sqrt-ish growth in t_probe, far below the corpus
# growth, while t_build tracks the corpus. Both are reported.
# ---------------------------------------------------------------------------
def main_incr_fixed_batch() -> None:
    import math
    import tempfile

    from designing_data_warehouse_in_sql_server_spark.operators.clustering import (
        ivf_index_build,
        semantic_dedup_probe,
    )
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        SEMDEDUP_IVF_CLUSTER_SIZE,
        SEMDEDUP_IVF_NPROBE,
        SEMDEDUP_THRESHOLD,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import (
        table_row_count,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        TableStore,
    )

    spark = get_spark("ddw-incr-fixed-batch")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    batch = (
        load_table(spark, SF_DIR, "embeddings")
        .select(
            (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    n_batch = batch.count()

    rows = []
    for scale in (1, 10, 100):
        with tempfile.TemporaryDirectory(prefix="ddw_incr_fb_") as tmp:
            write_dense_scaled_embeddings(spark, tmp, scale)
            n = table_row_count(tmp, "embeddings")
            k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))
            m = max(2, math.isqrt(k))
            corpus = load_table(spark, tmp, "embeddings")
            store = TableStore(spark, os.path.join(tmp, "store"))
            t0 = time.perf_counter()
            coarse, cells, members = ivf_index_build(
                corpus, fine_bound=k, coarse_bound=m,
                n_probe=SEMDEDUP_IVF_NPROBE,
            )
            store.overwrite("ivf_coarse", coarse)
            store.overwrite("ivf_cells", cells)
            store.overwrite("ivf_members", members, partition_by=["ccid"])
            t_build = round(time.perf_counter() - t0, 2)
            t_probe = float("inf")
            for _ in range(2):  # best-of-2: first run pays codegen
                t0 = time.perf_counter()
                semantic_dedup_probe(
                    batch,
                    store.read("ivf_coarse"),
                    store.read("ivf_cells"),
                    store.read("ivf_members"),
                    n_probe=SEMDEDUP_IVF_NPROBE,
                    threshold=SEMDEDUP_THRESHOLD,
                ).write.format("noop").mode("overwrite").save()
                t_probe = min(t_probe, round(time.perf_counter() - t0, 2))
            row = {
                "scale": scale, "n_corpus": n, "n_batch": n_batch, "k": k,
                "t_build": t_build, "t_probe": t_probe,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps({"mode": "incr_fixed_batch", "rows": rows}), flush=True)
    spark.stop()


def main() -> None:
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "ivf_crossover":
        main_ivf_crossover()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "incr_fixed_batch":
        main_incr_fixed_batch()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "ivf3_ab":
        main_ivf3_ab()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "frontier_r10b":
        main_frontier_r10b()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "frontier_r11_simhash":
        main_frontier_r11_simhash()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "frontier_r10c":
        main_frontier_rotated("frontier_r10c", FRONTIER_R10C)
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "frontier_r11c":
        main_frontier_rotated("frontier_r11c", FRONTIER_R11C)
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "heavies":
        main_heavies()
        return
    mode = os.environ.get("SPARK_GRAFT_PROBE_MODE", "")
    if mode in _FRONTIER_MODES:
        if mode == "frontier_twophase":
            # the claim under test is the forced two-phase dispatch
            from designing_data_warehouse_in_sql_server_spark.operators import ids

            ids.WINDOW_FORM_MAX_ROWS = -1
        spec = _FRONTIER_MODES[mode]
        names, scale_text = spec[0], spec[1]
        scale_facts = spec[2] if len(spec) > 2 else True
        run_frontier(mode, names, scale_text_tables=scale_text,
                     scale_fact_tables=scale_facts)
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "frontier":
        main_frontier()
        return
    if os.environ.get("SPARK_GRAFT_PROBE_MODE") == "build_sf1":
        build_sf1(os.environ.get("SPARK_GRAFT_SF1_ROOT", "/tmp/ddw_testdata"))
        return
    spark = get_spark("ddw-scaling-probe")
    # warm-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = run_suite(spark, 1)
    scaled = run_suite(spark, SCALE)
    summary = {
        "scale": SCALE,
        "ratios": {k: round(scaled[k] / base[k], 2) if base[k] else None for k in base},
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
