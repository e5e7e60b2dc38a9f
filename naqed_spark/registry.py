"""Query registry: the single source of truth wiring SURVEY.md §2 keys to
(a) a PySpark implementation callable and (b) its DuckDB oracle SQL twin.

``__spark_entry__.queries()`` / ``oracle_sql()`` read straight from here, as
does the local pre-verification harness (tests/test_oracle.py), so a key is
implemented exactly once and checked identically locally and by the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
ROWS_ONLY: set[str] = set()  # keys deliberately without a SQL oracle (SURVEY §2)


def query(key: str, oracle: Optional[str] = None, rows_only: bool = False):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``key``.

    ``oracle`` is the DuckDB ANSI-SQL twin (tables pre-registered as views).
    ``rows_only=True`` declares the weaker rows-only driver check is by
    design (approx/stateful/sink ops — SURVEY.md §2 pre-declares these).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        # r16 opt (guide §5): release the previous query's scoped persist
        # marks before building this one — builders persist frames their
        # own plan reuses, and a lazy builder cannot unpersist after its
        # consuming action, so without this a long session accumulates
        # every mark (storage eviction + GC stalls; see
        # queries/_util.scoped_persist). Only the REGISTRY entry is
        # wrapped: the module-level symbol stays the raw fn, so a query
        # that composes another builder inline does not release its own
        # caller's marks mid-build.
        def _wrapped(spark, sf_dir, _fn=fn):
            from naqed_spark.queries._util import release_scoped_persists

            release_scoped_persists(spark)
            # UTC re-pin once per QUERY BUILD (r17 review): catalog.load
            # now pins the session timezone once per session instead of
            # per call (py4j round-trip reduction), so a consumer that
            # mutates spark.sql.session.timeZone mid-session would
            # otherwise silently shift TZ-sensitive declared results
            # away from the UTC-pinned oracle. One conf.set per build
            # restores the old per-query guarantee at ~1/6th the calls.
            try:
                spark.conf.set("spark.sql.session.timeZone", "UTC")
            except Exception:
                pass
            return _fn(spark, sf_dir)

        _wrapped.__name__ = fn.__name__
        _wrapped.__qualname__ = fn.__qualname__
        _wrapped.__doc__ = fn.__doc__
        _wrapped.__module__ = fn.__module__
        _wrapped.__wrapped__ = fn
        QUERIES[key] = _wrapped
        if oracle is not None:
            ORACLES[key] = " ".join(oracle.split())
        elif rows_only:
            ROWS_ONLY.add(key)
        else:
            raise ValueError(f"{key!r}: provide oracle SQL or set rows_only=True")
        return fn

    return deco


# Driver-facing key order. The driver's correctness harness walks keys in
# the order ``queries()`` yields them and checks a fixed-size front window
# (~50/round), so keys with the OLDEST (or no) driver signal must go
# first. Rounds 2-7 hand-maintained a PRIORITY list; round 8 replaces it
# with the obvious closed loop: the driver's own CORRECTNESS_r*.json
# artifacts (committed at the repo root every round) say exactly which
# key was last checked in which round, so the rotation is COMPUTED —
# no-signal keys first (registration order: oldest unverified work
# leads), then by ascending last-checked round. A key can never rot
# silently again because falling out of the window is what promotes it.


def _driver_signal_rounds() -> dict[str, int]:
    """key -> latest round whose CORRECTNESS_r*.json contains it."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue  # a malformed artifact must not break queries()
        if isinstance(data, dict):
            for key in data:
                latest[key] = max(latest.get(key, -1), rnd)
    return latest


# Rewrite epochs (round 10, VERDICT r9 item 2): a green driver signal
# describes the code that existed WHEN it was taken. When a key's
# implementation is semantically rewritten afterwards, that signal is
# void — the key is effectively unverified again, so it must requeue
# ahead of checked-and-untouched peers instead of rotting behind its own
# stale green mark. The builder bumps ``key -> round`` here on any
# semantic rewrite (plan change, null-semantics change, two-phase
# restructure — NOT comment/alias-only edits); a test in
# tests/test_entry.py pins the resulting order property.
TOUCHED: dict[str, int] = {
    # round-9 two-phase / value-grid rewrites whose last signals predate
    # the rewrite (enumerated in VERDICT r9 "What's wrong" item 2):
    "win_rank_dense": 9,
    "win_ntile": 9,
    "win_percent_cume": 9,
    "llm_importance_resample": 9,
    "llm_perplexity_bucket": 9,
    "agg_weighted_median": 9,
    "ts_anomaly_zscore": 9,
    "llm_pack_sequences": 9,
    "agg_skyline_pareto": 9,
    "agg_gini_concentration": 9,
    "agg_tukey_fences": 9,
    # bumped 9 → 16 (r16 revenue-persist rewrite; one entry, not a
    # duplicate literal — r17 review)
    "agg_abc_classification": 16,
    # round-10 null-semantics fixes (ADVICE r9): NULL outer operand for
    # the quantifiers; NULL support point excluded from the ECDF.
    "sub_any_all": 10,
    "agg_ks_statistic": 10,
    # round-12 plan rewrite (VERDICT r11 item 4): the winnowing
    # fingerprint fused into a zero-shuffle higher-order projection pass
    # (same output row-for-row, but the r8 signal describes the deleted
    # explode+window plan).
    "llm_winnowing_fingerprint": 12,
    # round-12 schema change (VERDICT r11 item 8): exact dedup groups on
    # and emits sha256(text) — the 100 TB shuffle carries 64-char-hex
    # collision-resistant digests, not document bodies; keep/count
    # semantics unchanged.
    "llm_exact_dedup": 12,
    # round-16 optimization rewrites (VERDICT r16 item 7: rotate the
    # driver window onto the touched cohort — the r16 window rotated
    # onto the build-round keys, so most of these were verified that
    # round only by the local tri-SF + driver-run pytest sweeps, not by
    # the driver's own front window). The 27-key plan-pair list from
    # OPTIMIZATION_r16.md:
    "join_asof": 16,
    "join_asof_nearest": 16,
    "join_fuzzy_entity_resolution": 16,
    "llm_knn_ivf": 16,
    "llm_ivf_recall_at_k": 16,
    "graph_degree": 16,
    "graph_centralization": 16,
    "graph_common_neighbors": 16,
    "graph_adamic_adar": 16,
    "graph_edge_support": 16,
    "llm_ann_hyperplane_lsh": 16,
    "llm_dedup_keep_best": 16,
    "llm_ngram_novelty": 16,
    "llm_containment_dedup": 16,
    "llm_semdedup_cluster": 16,
    # agg_abc_classification carries 16 in the round-9 block above
    "agg_association_rules": 16,
    "compiler_approx_count_distinct": 16,
    # round-17 optimization rewrites (this round's plan changes: spread
    # parallelism above single-split scans, fragment-cached helpers, the
    # inner-$asof argmax aggregate, the adjacency-only triangle path,
    # the numpy UDAF body, the knn fast-path gate hardening). Keys also
    # rewritten in r16 carry 17 directly.
    "llm_shingle_minhash": 17,
    "llm_neardup_lsh": 17,
    "llm_minhash_jaccard_estimate": 17,
    "llm_ngram_jaccard": 17,
    "llm_lsh_bucket_audit": 17,
    "llm_lsh_precision_recall": 17,
    "llm_lsh_banding_sweep": 17,
    "fn_json": 17,
    "fn_cast": 17,
    "fn_try_safe": 17,
    "fn_json_roundtrip": 17,
    "graph_triangle_count": 17,
    "graph_clustering_coefficient": 17,
    "udaf_applyinpandas": 17,
    "compiler_asof_hop": 17,
    "compiler_asof_nearest": 17,
    "compiler_asof_tolerance": 17,
    "compiler_asof_forward": 17,
    "llm_knn_bruteforce": 17,
    "llm_similarity_threshold_join": 17,
    "llm_contamination_ngram": 17,
    # r17 rewrite that never got its bump (ROADMAP carried-over)
    "llm_chunk_windows": 17,
    # round-18: every fixpoint loop moved onto session.pregel (state
    # carries its frontier, halt count observed on the checkpoint job,
    # one-pass symmetric edges; walks compose lazily)
    "graph_reachability_bfs": 18,
    "graph_shortest_path_weighted": 18,
    "graph_connected_components": 18,
    "graph_pagerank_fixed": 18,
    "graph_scc": 18,
    "graph_personalized_pagerank": 18,
    "graph_kcore": 18,
    "graph_random_walks": 18,
    "graph_harmonic_centrality": 18,
    "compiler_traverse_reachable": 18,
    "compiler_traverse_edges": 18,
    "compiler_traverse_cheapest": 18,
    "llm_dedup_groups": 18,
}

# Keys registered WHILE a verification backlog is outstanding (VERDICT
# r10 item 1: "do not register keys into the front of this window").
# A brand-new key has no driver signal, so the plain rotation would
# queue it in the never-checked front block — and because module import
# order fixes registration order, a new compiler_ops key would jump
# AHEAD of the 46-key round-10 backlog. Keys listed here instead queue
# BEHIND the void-signal (TOUCHED) re-checks until their own first
# driver signal lands, after which the normal staleness order applies
# and the entry here is inert. Remove entries once their first
# CORRECTNESS_r*.json signal exists (or leave them: inert either way).
DEFERRED: set[str] = {
    # round-11 registrations of the round-10 compiler capability
    # (first driver contact scheduled r12; inert once signalled)
    "compiler_pivot",
    "compiler_unpivot",
    "compiler_sample_stratified",
    # round-12 registrations (VERDICT r11 items 2-3): the r11 $asof
    # engine extensions and the new subtotal-grid DSL — queued behind
    # the 7-key r11 backlog (4 TOUCHED voids + 3 DEFERRED above).
    "compiler_asof_nearest",
    "compiler_asof_tolerance",
    "compiler_rollup",
    "compiler_cube",
    "compiler_grouping_sets",
    "llm_multimodal_decode",
    # round-13 registrations (VERDICT r12 items 2 and 8): the r12
    # engine-level statistical aggregates (SURVEY roadmap M11) and the
    # $asof forward strategy (engine-tested since r11, zero new engine
    # code) — queued behind the stale-signal rotation front per the
    # standing discipline.
    "compiler_agg_stats",
    "compiler_percentile",
    "compiler_asof_forward",
    # round-13 M12 registrations (vector similarity through the DSL,
    # engine-level since earlier this round): queued behind the stale-
    # signal rotation front per the standing discipline.
    "compiler_vector_similarity",
    "compiler_vector_topk",
    # round-13 M13 registrations ($split/$explode — the array fan-out
    # verb): same-session registration after hash-exact pre-verification
    # at sf0.001/0.01/0.1 plus the null/empty battery sweeps.
    "compiler_split_explode_wordcount",
    "compiler_explode_pos_outer",
    # round-13 M14 registrations ($where post-projection filter +
    # $collect_list/$collect_set aggregates): same pre-verification
    # discipline as the M12/M13 batches above.
    "compiler_where_distinct_docs",
    "compiler_collect_segments",
    # round-13 M15 registration ($corr/$covar/$covar_pop): same
    # discipline.
    "compiler_corr_covar",
    # round-13 M16 registration ($day/$date_trunc/$datediff through a
    # calendar-month rollup): same discipline.
    "compiler_calendar_rollup",
    # round-13 M17 registration ($substring/$trim/$ltrim/$rtrim/
    # $replace through the normalize-then-group shape): same discipline.
    "compiler_string_normalize",
    # round-14 M18 registration ($coalesce/$nullif/$greatest/$least —
    # engine-level since r13 commit 7bfea79): same tri-SF pre-verified
    # discipline; queues behind the stale round-5 rotation front only
    # after its first driver signal (DEFERRED = bucket 2, ahead of
    # valid-signal keys by design — a never-checked key outranks a
    # checked-and-untouched one).
    "compiler_null_combinators",
    # round-14 M19 registrations ($traverse — unbounded/fixpoint
    # reachability through the E1 DSL, compiling to the verified
    # DataFrame-Pregel loop): same tri-SF pre-verified discipline.
    "compiler_traverse_reachable",
    "compiler_traverse_edges",
    # round-14 M20 registration ($json_keys/$json_size — JSON map
    # introspection with the cross-engine-pinned object-only NULL
    # contract): same tri-SF pre-verified discipline.
    "compiler_json_keys_histogram",
    # round-14 M21/M22 registrations (the $stream batch-twin surface
    # and weighted $traverse): same tri-SF pre-verified discipline.
    "compiler_stream_tumbling",
    "compiler_stream_session",
    "compiler_traverse_cheapest",
    # round-14 M23 registration ($scalar uncorrelated scalar subquery —
    # exact-integer scalar, pushed-literal plan): same discipline.
    "compiler_scalar_threshold",
    # round-15 M21 completion ($stream sliding mode — VERDICT r14
    # item 1): same tri-SF pre-verified discipline; queues behind the
    # r6-signal rotation front and the DEFERRED r14 octet.
    "compiler_stream_sliding",
    # round-15 M24 registrations (the approximate-sketch DSL surface —
    # VERDICT r14 item 4): $approx_count_distinct via the hash-exact
    # contract-boolean emission, $approx_percentile in the sketch's
    # exact regime (≡ quantile_disc, probed). Same tri-SF pre-verified
    # discipline.
    "compiler_approx_count_distinct",
    "compiler_approx_percentile",
    # round-15 M25 registration (correlated $scalar — VERDICT r14
    # item 5 resolved by implementation): the Q17 shape lowered to the
    # decorrelated aggregate + equi-join. Same discipline.
    "compiler_scalar_correlated",
    # round-15 M26 registration (streaming count-distinct: the HLL++
    # sketch in the $stream agg subset, verified per window against
    # the batch exact via the M24 contract-boolean shape). Same
    # discipline.
    "compiler_stream_approx_distinct",
    # round-15 M27 registration (streaming quantile: $approx_percentile
    # in the $stream agg subset, exact-regime ≡ quantile_disc batch
    # twin). Same discipline.
    "compiler_stream_approx_percentile",
    # round-15 M28 registration (multi-fraction $approx_percentile —
    # one sketch serves every requested quantile; integer-cents
    # serialization per the no-collection rule). Same discipline.
    "compiler_approx_percentile_multi",
    # round-16 M29 registration ($stream.$join — stream ⋈ static
    # dimension enrich composed with the windowed aggregation; VERDICT
    # r15 item 1): same tri-SF pre-verified discipline.
    "compiler_stream_static_join",
    # round-16 M30 registration ($stream.$distinct — watermarked
    # streaming dedup pass-through over the at-least-once dup/ replay;
    # VERDICT r15 item 2): same discipline.
    "compiler_stream_dedup",
    # round-16 M31 registration ($regex_extract/$regex_like/
    # $regex_replace under the parse-validated Java-regex/RE2 portable
    # subset; VERDICT r15 item 4): same tri-SF pre-verified discipline.
    "compiler_regex_text",
    # round-16 M32 registration ($first/$last/$nth navigation window
    # functions with the engine-pinned full-partition frame; VERDICT
    # r15 item 6): same discipline.
    "compiler_window_nav",
    # round-16 M31 companion registration (the $regex FILTER predicate
    # — scan-level partial-match under the same portable-subset gate):
    # same discipline.
    "compiler_regex_filter",
    # round-16 M33 registration ($stream_join — stream ⋈ stream
    # interval join with parse-required watermark + $within time
    # bound): same discipline.
    "compiler_stream_stream_join",
    # round-16 M32 companion registration ($ignore_nulls on the nav
    # trio — first/last/nth NON-NULL, the latest-valid-reading idiom):
    # same discipline.
    "compiler_window_nav_nulls",
    # round-16b M36/M37 registrations (calendar part extraction and
    # the numeric verb family, both probed cross-engine before the
    # grammar was written): same tri-SF pre-verified discipline.
    "compiler_calendar_parts",
    "compiler_math_scalar",
    # round-16b M34 registrations (array higher-order verbs — the
    # '$x' lambda sub-language + fold/sort/slice/contains intrinsics):
    # same tri-SF pre-verified discipline.
    "compiler_array_hof",
    "compiler_array_vector",
    # round-16b M35 registrations ($from derived-table composition —
    # agg-of-agg and filter-the-long-form): same tri-SF pre-verified
    # discipline.
    "compiler_from_agg_of_agg",
    "compiler_from_unpivot_filter",
    # round-16b M38 registrations (string search/pad/shape verbs, DATE
    # arithmetic, boolean + distinct aggregates): same tri-SF
    # pre-verified discipline.
    "compiler_string_search_pad",
    "compiler_date_arith",
    "compiler_bool_distinct_agg",
    # round-16b M39 registration ($in_query/$not_in_query membership
    # subqueries — semi/anti join lowering): same discipline.
    "compiler_in_query_membership",
    # round-16b M40 registrations ($intersect_all/$except_all bag set
    # ops; explicit NULL placement in $orderby): same discipline.
    "compiler_set_bag_ops",
    "compiler_order_nulls",
    # round-16b M41 registrations ($join — ad-hoc equi-join of two
    # query frames, inner + full/USING-coalesce): same discipline.
    "compiler_join_frames",
    "compiler_join_frames_full",
    # round-16b M42 registration ($ilike — case-insensitive LIKE
    # predicate): same discipline.
    "compiler_ilike_filter",
    # round-16b M43 registration ($exists_query/$not_exists_query —
    # multi-key correlated EXISTS, semi/anti lowering): same
    # discipline.
    "compiler_exists_query_corr",
}


def ordered_keys() -> list[str]:
    """All registered keys: never-driver-checked first (registration
    order), then checked-but-rewritten-since (their signals are void),
    then never-checked-but-DEFERRED registrations (they must not jump
    an outstanding backlog), then stalest-valid-signal-first
    (CORRECTNESS_r*.json artifacts)."""
    signal = _driver_signal_rounds()
    reg_index = {k: i for i, k in enumerate(QUERIES)}

    def sort_key(k: str):
        sig = signal.get(k, -1)
        if sig < 0:
            bucket = 2 if k in DEFERRED else 0
        elif sig < TOUCHED.get(k, -1):
            bucket = 1
        else:
            bucket = 3
        return (bucket, sig, reg_index[k])

    return sorted(QUERIES, key=sort_key)


# Retained for compatibility with older tests/docs; the computed rotation
# above is authoritative.
PRIORITY: list[str] = []


def load_all() -> None:
    """Import every query module so registration side effects run."""
    import naqed_spark.queries  # noqa: F401
