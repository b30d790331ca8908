"""Central query registry — single source of truth for the driver contract.

Every operator key from SURVEY.md §2 registers here with:
  - a Spark callable ``(SparkSession, sf_dir) -> DataFrame``
  - an optional DuckDB oracle SQL string (``None`` → driver runs the
    weaker rows-only check; used for non-deterministic / non-SQL ops).

``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``; tests/test_oracle_parity.py runs the same comparison
the driver does (row count + schema + order-insensitive value hash).

Column-name discipline: every computed column is aliased identically in
the Spark callable and the oracle SQL — the driver sorts columns by name
before hashing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> QuerySpec. Populated by the @query decorator at module import.
QUERIES: dict[str, QuerySpec] = {}

#: Modules that define queries; imported lazily by load_all_queries().
_QUERY_MODULES = [
    "okera_trino_spark.operators.scan",
    "okera_trino_spark.operators.joins",
    "okera_trino_spark.operators.aggregates",
    "okera_trino_spark.operators.windows",
    "okera_trino_spark.operators.sorts_sets",
    "okera_trino_spark.operators.subqueries",
    "okera_trino_spark.operators.scalar_fns",
    "okera_trino_spark.operators.nested",
    "okera_trino_spark.operators.analytics",
    "okera_trino_spark.operators.analytics_ext",
    "okera_trino_spark.operators.tpch_full",
    "okera_trino_spark.operators.extras",
    "okera_trino_spark.operators.asof",
    "okera_trino_spark.operators.skew",
    "okera_trino_spark.operators.views_udfs",
    "okera_trino_spark.operators.pattern",
    "okera_trino_spark.streaming.windows",
    "okera_trino_spark.llm.dedup",
    "okera_trino_spark.llm.clusters",
    "okera_trino_spark.llm.contamination",
    "okera_trino_spark.llm.similarity",
    "okera_trino_spark.llm.text",
    "okera_trino_spark.llm.multimodal",
    "okera_trino_spark.functions.trino_sql",
    "okera_trino_spark.functions.trino_tpch",
]


def query(name: str, oracle: str | None = None,
          tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation under a SURVEY.md §2 key."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                  tags=tuple(tags), doc=(fn.__doc__ or "").strip())
        return fn

    return deco


#: Driver-window priority. The correctness driver records the FIRST 50 keys
#: of ``queries()`` in iteration order, so this list hand-picks one-or-more
#: representatives from EVERY SURVEY.md §2 family (§2.1 scan/pushdown, §2.2
#: joins/aggregates/windows/sorts-sets/subqueries/scalar-fns/nested/views-UDF,
#: §2.3 streaming, §2.4 LLM ops, §2.5 extensions: TPC-H composites, as-of,
#: salted-skew agg, applyInPandas). Keys not listed here keep their module
#: registration order after the priority block — they are still registered,
#: tested locally by tests/test_oracle_parity.py, and available to the driver.
#: ROUND-15 ROTATION (data-driven: slots ranked by last-green round
#: computed from CORRECTNESS_r01..r14 — scripts/rotation_audit.py
#: recomputes and checks this, simulates a lookahead schedule, and
#: FAILS if any future window needs > 50 slots). The r14 window went
#: 50/50 hash-green, so all 50 rotate OUT. Slots, in order:
#:   1) the r10-stale cohort — 32 keys reached the 5-round bound this
#:      round (pre-staged in the r14 note); SEVEN of them were
#:      consolidated away this round (q_trino_sql_breadth5/6,
#:      q_trino_sql_listagg_distinct/_trunc, q_trino_sql_murmur3,
#:      q_trino_sql_statfns, q_trino_sql_word_stem — their columns
#:      live on in the pack keys below), leaving 25 mandatory;
#:   2) the NEW r15 keys — the four CONSOLIDATION PACKS
#:      (q_trino_sql_breadth_pack = breadth4+5+6+statfns,
#:      q_trino_sql_doc_breadth = breadth+breadth2,
#:      q_trino_sql_hash_stem = murmur3+word_stem,
#:      q_trino_sql_listagg_ext = listagg_trunc+listagg_distinct).
#:      10 keys removed, 4 added: registry 234 -> 228, every oracle
#:      check preserved as a column/arm of its pack (r14 verdict
#:      item 5 — schedule slack). New keys sit in-window for the
#:      test_entry.py union-closure invariant;
#:   3) CHANGED-IMPLEMENTATION jump-queue (standing rule, r15 — r14
#:      verdict item 4): a key whose implementation OR oracle changed
#:      in round N enters the round-N window even if not yet stale —
#:      the driver contract is the hard signal; local parity is not a
#:      substitute. This round: q_llm_kmeans, q_llm_cluster_sample,
#:      q_llm_semdedup_kmeans (assignment-path pin + k guard, r15),
#:      q_llm_dedup_exact (digest group key, r14),
#:      q_llm_substring_spans (split-long keys, r14),
#:      q_llm_dup_clusters_star (one-action fixpoint, r14);
#:   4) backfill from the 49-key r11 cohort (bound hits at r16),
#:      stalest-first with heavy/plan-sensitive keys preferred.
#:
#: R16 WINDOW PLAN (pre-staged): the 34 remaining r11-cohort keys are
#: mandatory (49 minus the 15 backfilled below; q_trino_sql_breadth
#: was consolidated away — rotation_audit.py prints the exact list) +
#: up to 3 new keys + 13 backfill from the 48-key r12 cohort,
#: stalest-first, changed-implementation keys first. Suggested
#: backfill (heavy/plan-sensitive): q_llm_dup_clusters_lsh,
#: q_llm_dedup_apply_lsh, q_llm_semdedup, q_llm_bpe_apply,
#: q_llm_trigram_lm, q_llm_tfidf, q_llm_winnow, q_llm_heavy_hitters,
#: q_llm_ann_pq, q_llm_curation, q_tpch_q18, q_tpch_q3,
#: q_events_pattern_rows. The remaining 35 r12-cohort keys form the
#: r17 mandatory core.
#:
#: NEW-KEY RULES (standing, r14; r15 additions):
#:   - BUDGET: at most 3 new registry keys per round — the declared
#:     budget rotation_audit.py's lookahead simulates. The capacity
#:     arithmetic is hard: ~228 keys x 5-round staleness bound vs a
#:     50-slot window leaves ~4-5 slots/round of slack. Exceeding the
#:     budget must be paid for by consolidating/removing existing keys
#:     in the SAME round (this round: +4 packs paid by -10 singletons,
#:     net -6; the audit fails loudly otherwise).
#:   - SCALE PROBE: any new key whose plan contains a shuffle ships
#:     WITH a SCALE_PROBE row at >= 1 decade (sf1.0) in the round it
#:     is born — the k-means/star precedent; scripts/scale_probe.py
#:     --keys makes the subset run cheap. (The r15 packs are
#:     recombinations of long-probed map-only/small-groupBy dialect
#:     queries — no new shuffle shape.)
#:   - CHANGED-KEYS JUMP THE QUEUE: see 3) above.
#:   - CHECKPOINT KEYS DRIFT-PROBE BEFORE HEADLINE (r15): a key whose
#:     plan localCheckpoints/persists per invocation pins blocks until
#:     somebody releases them — in a long-lived session that is an
#:     allocator-pressure leak (the r14 bench median collapse,
#:     bisected to q_llm_semdedup_kmeans in r15). Before such a key
#:     enters bench.py's HEADLINE, run scripts/scale_probe.py --drift
#:     on it (cheap canary) AND note the release owner in its
#:     docstring; bench releases between samples as of r15.
#:
#: WINDOW-INELIGIBLE, PERMANENTLY: q_agg_approx_distinct and
#: q_agg_approx_percentile never enter this list BY DESIGN — they are
#: Spark-native non-deterministic sketches whose values cannot
#: hash-match a DuckDB replay; their correctness evidence is the
#: hash-green deterministic twins (q_agg_approx_*_det) plus the error-
#: bound tests in tests/test_bounds.py. Rotation audits (including
#: scripts/rotation_audit.py) must exclude them from staleness checks.
_PRIORITY: tuple[str, ...] = (
    # R16 WINDOW (the pre-staged r15 plan, executed; the r15 window
    # went 50/50 hash-green so all 50 rotate out; rotation_audit.py
    # verifies this block covers the due cohort and the lookahead
    # stays feasible — note r16 is an OPTIMIZATION round: 0 new
    # registry keys, relieving the budget arithmetic by one round):
    # 1) the due cohort — the 34 remaining r11-cohort keys whose
    #    staleness bound hits at r16 (rotation_audit.py prints the
    #    exact list)
    "q_agg_cube", "q_agg_distinct", "q_agg_filtered", "q_agg_gsets",
    "q_agg_numeric_histogram_det", "q_join_anti", "q_join_theta",
    "q_llm_media_features", "q_subquery_in", "q_subquery_scalar",
    "q_tpch_q11", "q_tpch_q12", "q_tpch_q16", "q_tpch_q20",
    "q_trino_sql", "q_trino_sql_fns", "q_trino_sql_groups_frame",
    "q_trino_sql_jsonpath_methods", "q_trino_sql_jsonpath_strict",
    "q_trino_sql_prepared", "q_trino_sql_qdigest", "q_trino_sql_tz",
    "q_trino_sql_unnest", "q_trino_tpch_q13", "q_trino_tpch_q15",
    "q_trino_tpch_q17", "q_trino_tpch_q18", "q_trino_tpch_q2",
    "q_trino_tpch_q22", "q_trino_tpch_q4", "q_union_distinct",
    "q_view_expand", "q_win_frame_groups", "q_win_lag_lead",
    # 2) changed-implementation jump-queue (standing rule). The
    #    invariant: every key whose implementation changed since the
    #    previous window — directly or through a shared helper — sits
    #    in block 2 or block 3. Block 2 holds only changed keys.
    "q_asof_join", "q_events_retention", "q_llm_dsir",
    "q_llm_bpe", "q_llm_bpe_apply",
    "q_tpch_q21", "q_llm_ccnet_buckets", "q_llm_dedup_near",
    "q_llm_dup_clusters_star", "q_llm_dedup_embed",
    "q_llm_dedup_simhash_pairs",
    # 3) the remaining changed keys, then stalest-cohort backfill
    #    (q_llm_tfidf) up to the 50-key window (34 + 11 + 5)
    "q_llm_dup_clusters_lsh", "q_llm_dedup_apply_lsh",
    "q_llm_semdedup", "q_llm_trigram_lm", "q_llm_tfidf",
)


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry,
    reordered so the driver's 50-key correctness window spans every
    SURVEY.md §2 family (see ``_PRIORITY``)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    missing = [k for k in _PRIORITY if k not in QUERIES]
    if missing:
        raise RuntimeError(f"_PRIORITY keys not registered: {missing}")
    ordered = {k: QUERIES[k] for k in _PRIORITY}
    ordered.update((k, s) for k, s in QUERIES.items() if k not in ordered)
    return ordered
