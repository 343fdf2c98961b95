"""Query registry: one place where every implemented operator from
SURVEY.md section 2 (plus the LLM-data-pipeline operators) is exposed as

  name -> (Spark builder (spark, sf_dir) -> DataFrame,
           equivalent DuckDB oracle SQL or None)

``__spark_entry__.py``, the pytest oracle-parity suite, and ``bench.py``
all read from this registry, so a query cannot drift between the three.

Determinism contract (drives every plan in this package):
  * money/quantity aggregates go through integer cents (functions.money)
    so Spark and DuckDB hash bit-identically;
  * every computed column is aliased identically in builder and oracle;
  * floating-point results are produced by a *fixed shape* of IEEE ops
    (single final division / sqrt) on exact integers, never by
    order-dependent double summation.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..serving import at_least, serve
from ..sources.readers import TABLES

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL over pre-registered table views
    headline: bool = False  # included in bench.py timing set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# The correctness gate reads __spark_entry__.queries() in dict order and
# checks only the first GATE_BUDGET entries. GATED names exactly those
# entries; every other query follows in registration order and is still
# oracle-checked by the pytest parity suite. Edit GATED in place when the
# gate set changes -- its history lives in git.
GATE_BUDGET = 50

GATED = (
    "q_pricing_summary",
    "q_local_supplier_volume",
    "q_shipping_priority",
    "q_khop_paths",
    "q_dedup_minhash_lsh",
    "q_cosine_topk",
    "q_decode_video",
    "q_skew_chooser_join",
    "q_kmv_sample",
    "q_kmv_distinct",
    "q_kmv_incremental",
    "q_kmv_overlap",
    "q_balanced_shards",
    "q_dup_spans",
    "q_repetition",
    "q_winnow_fingerprint",
    "q_multimodal_meta",
    "q_pack_sequences",
    "q_boilerplate",
    "q_corpus_logfreq",
    "q_text_quality",
    "q_dedup_simhash",
    "q_dedup_incremental",
    "q_dedup_containment",
    "q_dedup_jaccard",
    "q_dedup_exact",
    "q_path_revenue",
    "q_hierarchy_longest",
    "q_graph_vertices",
    "q_product_profit",
    "q_modularity",
    "q_pivot",
    "q_percentiles",
    "q_asof_join",
    "q_bpe_natural_vocab",
    "q_bpe_segment",
    "q_bpe_merges",
    "q_communities",
    "q_cluster_exemplars",
    "q_semantic_clusters",
    "q_first_band_pairs",
    "q_graph_edges",
    "q_search_prefix",
    "q_search_grams",
    "q_decontaminate",
    "q_mixture_sample",
    "q_chunk_stats",
    "q_scrub",
    "q_sketch_profile",
    "q_collocations",
)
assert len(GATED) == GATE_BUDGET, len(GATED)
assert len(set(GATED)) == GATE_BUDGET


# ---------------------------------------------------------------------------
# Prepared-plan cache (steady-state serving posture).
#
# Measured at sf0.1 (BENCH_NOTES.md r7): q_khop_paths' steady run
# costs 0.64 s rebuilt per call vs 0.033 s re-collecting the SAME
# DataFrame -- ~95% of the repeated-query wall is driver-side
# re-analysis + CacheManager plan normalization, not execution. A
# long-running engine serves repeated statements through a
# prepared-plan cache (as every RDBMS does); Spark's DataFrame IS that
# prepared statement: it pins the analyzed/optimized/physical plan.
# Each action re-submits jobs; the scheduler additionally reuses
# shuffle map outputs of unchanged stages (skipped stages), so a
# repeat run executes the result stages + action -- the serving
# latency of an identical statement, not a from-scratch run (bench.py
# publishes the cold mode for that; see BENCH_NOTES.md r7).
#
# Scope: active only at SPARK_GRAFT_SERVING=plans (bench.py's prepared
# regime), so one-shot correctness runs and the bench's
# cold and rebuild regimes still measure the full build+execute path.
# Each query's prepared DataFrame is a serving-store entry (serving.py)
# stamped with every table file's fingerprint, so a regenerated table
# rebuilds the plan instead of serving a stale one -- the same
# invalidation contract as read_table's persist cache.
# ---------------------------------------------------------------------------


def _memoized(name: str, fn: Builder) -> Builder:
    import functools

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        if not at_least("plans"):
            return fn(spark, sf_dir)
        # session object, not applicationId: the cached DataFrame is
        # bound to the session that built it (ADVICE r8 on newSession
        # siblings)
        return serve(
            spark, sf_dir, f"plan.{name}", TABLES, lambda: fn(spark, sf_dir)
        )

    return build


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator registering a query builder with its oracle SQL."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            builder=_memoized(name, fn),
            oracle=oracle.strip() if oracle else None,
            headline=headline,
            tags=tags,
        )
        return fn

    return deco


def _ordered() -> list[QuerySpec]:
    unknown = set(GATED) - set(REGISTRY)
    if unknown:  # a typo here would silently burn gate slots
        raise ValueError(f"GATED names not registered: {sorted(unknown)}")
    # stable sort: gated first, each group in registration order
    return sorted(REGISTRY.values(), key=lambda s: s.name not in GATED)


def all_queries() -> dict[str, Builder]:
    return {s.name: s.builder for s in _ordered()}


def all_oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in _ordered() if s.oracle is not None}
