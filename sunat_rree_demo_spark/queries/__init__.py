"""Named query registry checked against the DuckDB oracle.

Each module registers queries into ``REGISTRY`` at import time; importing
this package loads the full inventory. ``__spark_entry__`` exposes it to
the driver harness.
"""

from sunat_rree_demo_spark.queries.base import REGISTRY, Query, register  # noqa: F401

# populate the registry (order = SURVEY.md §7.2 build order)
from sunat_rree_demo_spark.queries import core  # noqa: E402,F401
from sunat_rree_demo_spark.queries import rollups  # noqa: E402,F401
from sunat_rree_demo_spark.queries import windows  # noqa: E402,F401
from sunat_rree_demo_spark.queries import events  # noqa: E402,F401
from sunat_rree_demo_spark.queries import text  # noqa: E402,F401
from sunat_rree_demo_spark.queries import dedup  # noqa: E402,F401
from sunat_rree_demo_spark.queries import similarity  # noqa: E402,F401
from sunat_rree_demo_spark.queries import scale_variants  # noqa: E402,F401
from sunat_rree_demo_spark.queries import stats  # noqa: E402,F401
from sunat_rree_demo_spark.queries import temporal  # noqa: E402,F401
from sunat_rree_demo_spark.queries import arrays  # noqa: E402,F401
from sunat_rree_demo_spark.queries import llm_pipeline  # noqa: E402,F401
from sunat_rree_demo_spark.queries import quality  # noqa: E402,F401
from sunat_rree_demo_spark.queries import marts  # noqa: E402,F401
from sunat_rree_demo_spark.queries import corpus  # noqa: E402,F401
from sunat_rree_demo_spark.queries import econ  # noqa: E402,F401
from sunat_rree_demo_spark.queries import audit  # noqa: E402,F401
from sunat_rree_demo_spark.queries import graph  # noqa: E402,F401
from sunat_rree_demo_spark.queries import incremental  # noqa: E402,F401
from sunat_rree_demo_spark.queries import layout  # noqa: E402,F401
from sunat_rree_demo_spark.queries import mining  # noqa: E402,F401
from sunat_rree_demo_spark.queries import dq  # noqa: E402,F401
from sunat_rree_demo_spark.queries import tokenizer  # noqa: E402,F401
from sunat_rree_demo_spark.queries import retrieval  # noqa: E402,F401
from sunat_rree_demo_spark.queries import sketches  # noqa: E402,F401
from sunat_rree_demo_spark.queries import tpch  # noqa: E402,F401
from sunat_rree_demo_spark.queries import clustering  # noqa: E402,F401
from sunat_rree_demo_spark.queries import media  # noqa: E402,F401
from sunat_rree_demo_spark.queries import extraction  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-snapshot rotation: the harness's CORRECTNESS snapshot records only
# the FIRST 50 registry entries in iteration order (see BASELINE.md "Driver
# correctness snapshot cap").  The union of CORRECTNESS_r01-r10 covers every
# query registered through q246 (every one green at its newest appearance;
# q46 rows-only by design).  Each round's window lists that round's new
# queries first (first driver check — highest priority), then the
# longest-unchecked driver-green queries, up to 50.  Only the current
# round's ``_R<N>_*`` tuples live here.
# Displaced fillers stay driver-green via their historical rows and
# the identical local exact-hash gate (scripts/check_parity.py), which
# runs all 250 queries every round.
# Registration itself is unchanged; this only re-orders the dict.
# tests/test_driver_window.py asserts every registered query has either a
# historical CORRECTNESS row or a slot in the current window.
# ---------------------------------------------------------------------------
# round-12 additions: NONE — r12 is an optimization round (no new
# queries); the window is pure rotation
_R12_NEW = ()
# the FULL 50-query cohort whose newest driver row is still r07 (the
# three r11 leftovers q01/q18/q198 plus the 47 next-oldest r07 rows) —
# after this window no registered query's newest driver row is older
# than r08. Every entry is hash-checkable (oracle present): the r11
# verdict's hygiene ask — q46's rows-only HLL check rotates OUT (its
# newest driver row is r11; its error bounds stay pinned by golden
# tests) so CORRECTNESS_r12 is 50/50 countable.
_R12_FILLERS = (
    "q01_annual_balance", "q18_quarterly_rollup",
    "q19_annual_performance", "q20_region_revenue",
    "q21_seasonality_matrix", "q23_ytd_vs_prior",
    "q24_kpi_monthly", "q25_kpi_prod_monthly",
    "q26_rolling_trend", "q27_sigma_outliers",
    "q28_ranked_in_group", "q30_tumbling_hourly",
    "q31_sliding_windows", "q32_sessionization",
    "q33_event_dedup", "q34_json_extract",
    "q35_token_stats", "q36_quality_score",
    "q37_lang_id", "q38_fingerprint",
    "q39_exact_dedup", "q40_ngram_jaccard_pairs",
    "q41_minhash_lsh_pairs", "q42_simhash",
    "q43_cosine_topk", "q44_embedding_near_dup",
    "q47_rollup_subtotals", "q48_trade_roundtrip",
    "q49_correlation", "q50_robust_outliers",
    "q51_tfidf_top_terms", "q52_json_map_explode",
    "q53_cube", "q55_calendar_yoy",
    "q56_asof_join", "q57_range_join",
    "q61_dup_clusters", "q65_cluster_representatives",
    "q68_dup_clusters_two_phase", "q198_html_to_text",
    "q199_main_content", "q200_fix_mojibake",
    "q201_jpeg_pixel_stats", "q202_sliding_window_chunks",
    "q203_lsh_band_scurve", "q204_curation_summary",
    "q205_lsh_eval", "q206_ivf_recall_curve",
    "q207_wav_frame_energy", "q208_k_anonymity",
)
_R12_WINDOW = tuple(
    n for n in (_R12_NEW + _R12_FILLERS) if n in REGISTRY
)[:50]
_head = {n: REGISTRY[n] for n in _R12_WINDOW}
_tail = {n: q for n, q in REGISTRY.items() if n not in _head}
REGISTRY.clear()
REGISTRY.update(_head)
REGISTRY.update(_tail)
