"""Parameter-fuzzed oracle sweeps (r8 verdict #1).

For each constant-bearing query below, draw N seeded parameter sets,
rebuild BOTH the Spark plan and the DuckDB oracle from the same draw,
and run the driver-faithful strict compare. This is the sweep that
catches FIXTURE-BAKED parity — a query whose Spark side and oracle
side agree only at the shipped constants (e.g. the r7 `l_quantity`
cast bug class) fails here on the first perturbed draw.

    python tools/fuzz_oracles.py [--json FUZZ.json] [--seeds N] [sf_dir] [name ...]

Determinism: every draw comes from random.Random(f"{name}:{seed}"), so
the artifact is reproducible bit-for-bit; parameters are recorded per
row. Draw spaces stay inside the testdata domain (ship years
1995-2001, real dimension vocabularies) and on clean numeric grids so
a failure is always a real engine divergence, not float-repr noise.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import random

from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.testing import compare_query

# -- draw spaces -------------------------------------------------------------
YEARS = [1995, 1996, 1997, 1998, 1999, 2000]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_TOKENS = ["widget", "ring", "gear", "anvil", "bolt", "plate", "rod", "gizmo"]
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
NATIONS = [f"NATION_{i}" for i in range(25)]
FLAGS = ["A", "N", "R"]
STATUSES = ["F", "O", "P"]


def _date(rng: random.Random) -> str:
    return f"{rng.choice(YEARS)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _bands(rng: random.Random) -> tuple:
    out = []
    for _ in range(rng.randint(2, 4)):
        s_lo = rng.randint(1, 10)
        q_lo = rng.randint(1, 20)
        out.append(
            (
                rng.choice(BRANDS),
                s_lo,
                s_lo + rng.randint(5, 30),
                q_lo,
                q_lo + rng.randint(5, 20),
            )
        )
    return tuple(out)


# name -> (fn, sql_builder, sampler(rng) -> params dict)
def _targets():
    from dataframe_retail_e_inventarios_spark.plans import (
        queries_core as qc,
        queries_curation as qcur,
        queries_datacleaning as qdc,
        queries_eval as qev,
        queries_extra as qe,
        queries_llm as qllm,
        queries_mining as qmi,
        queries_modern as qm,
        queries_relational as qr,
        queries_report as qrep,
        queries_scale as qsc,
        queries_sql as qsql,
        queries_stats as qst,
        queries_streaming as qstr,
        queries_trend as qtr,
        queries_warehouse as qw,
    )

    return {
        "volume_shipping_nation_pairs": (
            qr.q_volume_shipping,
            qr.volume_shipping_sql,
            lambda r: dict(y0=(y := r.choice(YEARS)), y1=y + r.randint(0, 2)),
        ),
        "returned_item_losses": (
            qr.q_returned_item_losses,
            qr.returned_item_losses_sql,
            lambda r: dict(
                year=r.choice(YEARS), flag=r.choice(FLAGS), k=r.randint(5, 40)
            ),
        ),
        "forecasted_discount_revenue": (
            qr.q_forecasted_discount_revenue,
            qr.forecasted_discount_revenue_sql,
            lambda r: dict(
                year=r.choice(YEARS),
                d_lo=(lo := r.randint(0, 6) / 100),
                d_hi=lo + r.randint(1, 4) / 100,
                qty_cap=r.randint(5, 50),
            ),
        ),
        "promo_revenue_share": (
            qr.q_promo_revenue_share,
            qr.promo_revenue_share_sql,
            lambda r: dict(
                year=r.choice(YEARS),
                months=tuple(sorted(r.sample(range(1, 13), r.randint(1, 4)))),
                ptype=r.choice(PTYPES),
            ),
        ),
        "small_quantity_avg_yearly": (
            qr.q_small_quantity_avg_yearly,
            qr.small_quantity_avg_yearly_sql,
            lambda r: dict(inv_factor=r.randint(2, 10)),
        ),
        "large_volume_customers": (
            qr.q_large_volume_customers,
            qr.large_volume_customers_sql,
            lambda r: dict(qty_min=r.randint(50, 250)),
        ),
        "brand_size_band_revenue": (
            qr.q_brand_size_band_revenue,
            qr.brand_size_band_revenue_sql,
            lambda r: dict(bands=_bands(r)),
        ),
        "shipping_priority_topk": (
            qr.q_shipping_priority,
            qr.shipping_priority_sql,
            lambda r: dict(
                cutoff=_date(r), segment=r.choice(SEGMENTS), k=r.randint(5, 30)
            ),
        ),
        "local_supplier_volume": (
            qr.q_local_supplier_volume,
            qr.local_supplier_volume_sql,
            lambda r: dict(region=r.choice(REGIONS), year=r.choice(YEARS)),
        ),
        "nation_market_share": (
            qr.q_nation_market_share,
            qr.nation_market_share_sql,
            lambda r: dict(
                region=r.choice(REGIONS),
                ptype=r.choice(PTYPES),
                nation=r.choice(NATIONS),
                y0=(y := r.choice(YEARS)),
                y1=y + r.randint(0, 2),
            ),
        ),
        "top_supplier_quarter": (
            qr.q_top_supplier_quarter,
            qr.top_supplier_quarter_sql,
            lambda r: dict(
                q_start=(d := _date(r)),
                q_end=f"{int(d[:4]) + (int(d[5:7]) + 2) // 12}-"
                f"{(int(d[5:7]) + 2) % 12 + 1:02d}-01",
            ),
        ),
        "late_shipment_priority": (
            qr.q_late_shipment_priority,
            qr.late_shipment_priority_sql,
            lambda r: dict(late_days=r.randint(10, 200)),
        ),
        "waiting_supplier_count": (
            qr.q_waiting_supplier_count,
            qr.waiting_supplier_count_sql,
            lambda r: dict(late_days=r.randint(30, 180), status=r.choice(STATUSES)),
        ),
        "dominant_supplier_parts": (
            qr.q_dominant_supplier_parts,
            qr.dominant_supplier_parts_sql,
            lambda r: dict(
                year=r.choice(YEARS),
                name_token=r.choice(NAME_TOKENS),
                min_supps=r.randint(2, 6),
            ),
        ),
        "topk_parts_per_supplier": (
            qr.q_topk_per_group,
            qr.topk_parts_per_supplier_sql,
            lambda r: dict(k=r.randint(1, 8)),
        ),
        "trailing_moving_average": (
            qr.q_trailing_ma,
            qr.trailing_moving_average_sql,
            lambda r: dict(window=r.randint(2, 8)),
        ),
        "semi_join_open_orders": (
            qr.q_semi_join,
            qr.semi_join_open_orders_sql,
            lambda r: dict(status=r.choice(STATUSES)),
        ),
        "series_admission_gates": (
            qc.q_series_gates,
            qc.series_admission_gates_sql,
            lambda r: dict(min_weeks=r.randint(4, 30), min_total=r.randint(1, 50)),
        ),
        "winsorize_bounds": (
            qst.q_winsorize_bounds,
            qst.winsorize_bounds_sql,
            lambda r: dict(
                p_lo=r.randint(1, 10) / 100,
                p_hi=r.randint(90, 99) / 100,
                min_pos=r.randint(2, 12),
            ),
        ),
        "report_enrich": (
            qrep.q_report_enrich,
            qrep.report_enrich_sql,
            lambda r: dict(
                band_lo=float(r.randint(2, 20)), band_hi=float(r.randint(25, 80))
            ),
        ),
        "events_sliding_counts": (
            qsc.q_sliding_counts,
            qsc.events_sliding_counts_sql,
            lambda r: dict(
                hop_min=(h := r.choice([10, 15, 20, 30, 60])),
                width_min=h * r.randint(1, 4),
            ),
        ),
        # round-9 part 2: banding edges + robust gates + the CDC
        # split-invariance property (oracle constant across draws)
        "abc_classification": (
            qsc.q_abc_classification,
            qsc.abc_classification_sql,
            lambda r: dict(
                a_cut=(a := r.randint(50, 85) / 100),
                b_cut=a + r.randint(5, 14) / 100,
            ),
        ),
        "demand_anomalies_mad": (
            qw.q_demand_anomalies_mad,
            qw.demand_anomalies_mad_sql,
            lambda r: dict(z_gate=r.randint(20, 50) / 10, min_weeks=r.randint(4, 26)),
        ),
        "events_session_funnel": (
            qstr.q_session_funnel,
            qstr.events_session_funnel_sql,
            lambda r: dict(gap_min=r.choice([5, 10, 15, 30, 45, 60, 120])),
        ),
        "sql_exists_returned_orders": (
            qsql.q_sql_exists_returned,
            qsql.sql_exists_returned_orders_sql,
            lambda r: dict(flag=r.choice(FLAGS)),
        ),
        # cutoff drawn INSIDE the events span (2024-01-01..30, verified
        # against the testdata) — a YEARS draw would put every cutoff
        # before all events, i.e. the same degenerate empty-base split
        # on every seed, and the split-invariance property would never
        # actually be exercised.
        "cdc_latest_state": (
            qsc.q_cdc_latest_state,
            qsc.cdc_latest_state_sql,
            lambda r: dict(cutoff_date=f"2024-01-{r.randint(2, 29):02d}"),
        ),
        "product_type_profit": (
            qr.q_product_type_profit,
            qr.product_type_profit_sql,
            lambda r: dict(
                name_token=r.choice(NAME_TOKENS),
                cost_ratio=r.randint(30, 90) / 100,
            ),
        ),
        # round-10 (r9 verdict #5): time-geometry constants — session
        # gaps, RANGE frame widths, as-of staleness horizons, active-
        # user window pairs, and the bounded stream-stream join's
        # (join bound, watermark horizon) pair. These are where
        # off-by-one bucket-edge parity bugs hide: every boundary
        # convention (strict-gap session split, N-1 PRECEDING frame,
        # <= staleness, closed join interval) is re-proved per draw.
        "events_sessionization": (
            qstr.q_sessions,
            qstr.events_sessionization_sql,
            lambda r: dict(gap_min=r.choice([5, 10, 15, 20, 45, 60, 90, 120])),
        ),
        "events_session_window_builtin": (
            qm.q_session_window_builtin,
            qm.session_window_builtin_sql,
            lambda r: dict(gap_min=r.choice([5, 10, 15, 20, 45, 60, 90, 120])),
        ),
        "trailing_28d_range_frame": (
            qm.q_trailing_28d_range,
            qm.trailing_28d_range_sql,
            lambda r: dict(window_days=r.randint(2, 60)),
        ),
        "asof_join_tolerance": (
            qe.q_asof_tolerance,
            qe.asof_join_tolerance_sql,
            lambda r: dict(max_stale_days=r.randint(1, 45)),
        ),
        "rolling_active_users": (
            qw.q_rolling_active_users,
            qw.rolling_active_users_sql,
            lambda r: dict(
                wau_days=(wd := r.randint(2, 14)),
                mau_days=wd + r.randint(0, 28),
            ),
        ),
        # watermark drawn >= the join bound (the eviction-correctness
        # floor both sides enforce); result must be watermark-
        # INVARIANT on the in-order landing — the draw proves it.
        "streaming_view_purchase_join_bounded": (
            qw.q_streaming_view_purchase_join_bounded,
            qw.streaming_view_purchase_join_bounded_sql,
            lambda r: dict(
                window_min=(wm := r.choice([10, 15, 20, 30, 45, 60])),
                watermark_min=wm + r.choice([0, 15, 30, 60]),
            ),
        ),
        # round-12: change-point + bootstrap geometry — the CUSUM
        # admission floor, and the bootstrap (resample count, history
        # floor, CI tail) triple: the deterministic md5 resampler and
        # the DISCRETE order-statistic quantile at every level.
        "cusum_change_points": (
            qtr.q_cusum_change_points,
            qtr.cusum_change_points_sql,
            lambda r: dict(min_weeks=r.choice([6, 12, 20, 30])),
        ),
        "bootstrap_ci_weekly_demand": (
            qtr.q_bootstrap_ci_weekly_demand,
            qtr.bootstrap_ci_weekly_demand_sql,
            lambda r: dict(
                n_boot=r.choice([40, 100, 200]),
                min_weeks=r.choice([15, 20, 30]),
                tail=r.choice([0.025, 0.05, 0.1]),
            ),
        ),
        # round-12: drift/encoding constants — the PSI bin width
        # (reshapes the term set and which bins hit the 1e-6 floor)
        # and the target-encoding smoothing strength (shrinkage toward
        # the prior at every m, including m >> any brand's n).
        "psi_order_price_drift": (
            qst.q_psi_order_price_drift,
            qst.psi_order_price_drift_sql,
            lambda r: dict(bin_width=r.choice([5000, 10000, 20000, 50000])),
        ),
        "target_encoding_brand": (
            qst.q_target_encoding_brand,
            qst.target_encoding_brand_sql,
            lambda r: dict(m=r.choice([1, 10, 50, 200, 5000])),
        ),
        # round-12: chunking + winnowing geometry — the chunk/stride
        # tail-emission rule (incl. stride == chunk, no overlap) and
        # the winnow k-gram/window/df-cap triple (the w+k-1 shared-run
        # guarantee at every drawn shape).
        "doc_chunks": (
            qsc.q_doc_chunks,
            qsc.doc_chunks_sql,
            lambda r: dict(
                chunk=(c := r.choice([32, 64, 128])),
                stride=c - r.choice([0, c // 4, c // 2]),
            ),
        ),
        "winnow_fingerprint_pairs": (
            qmi.q_winnow_fingerprint_pairs,
            qmi.winnow_fingerprint_pairs_sql,
            lambda r: dict(
                k=r.choice([3, 4, 5, 7]),
                w=r.choice([2, 4, 6]),
                max_df=r.choice([20, 50, 100]),
            ),
        ),
        # round-12: BM25 saturation geometry — k1/b on exact-literal
        # grids ((k1+1) and (1-b) are Python-computed in BOTH engines'
        # expressions, so every draw is bit-comparable), plus the
        # per-doc top-N cut.
        "bm25_top_terms": (
            qsc.q_bm25_top_terms,
            qsc.bm25_top_terms_sql,
            lambda r: dict(
                k1=r.choice([0.5, 0.9, 1.2, 1.5, 2.0]),
                b=r.choice([0.0, 0.25, 0.5, 0.75, 1.0]),
                top=r.choice([3, 5, 10]),
            ),
        ),
        # round-12: eval-family geometry — RRF fusion shape (smoothing
        # k, per-list candidate cutoff, fused top-N) and the conformal
        # order-statistic index (coverage level alpha_num/10, holdout
        # span, calibration floor; alpha_num <= 9 with min_cal >= 10
        # keeps the rank inside the calibration list).
        "reciprocal_rank_fusion": (
            qev.q_reciprocal_rank_fusion,
            qev.reciprocal_rank_fusion_sql,
            lambda r: dict(
                rrf_k=r.choice([10, 30, 60, 100]),
                candidates=r.choice([8, 16, 64, 128]),
                top=r.choice([3, 5, 10]),
            ),
        ),
        "conformal_forecast_intervals": (
            qev.q_conformal_forecast_intervals,
            qev.conformal_forecast_intervals_sql,
            lambda r: dict(
                alpha_num=r.randint(5, 9),
                test_weeks=r.choice([2, 4, 6]),
                min_cal=r.choice([10, 15, 20]),
            ),
        ),
        # round-12: curation-family constants — packing/selection
        # budgets at running-sum cutoff edges, stratified keep rates on
        # the md5-bucket grid (0..256), split cut points including the
        # degenerate train_cut == val_cut (empty val) draw, and the
        # corpus-shuffle seed (every seed is a fresh global permutation
        # re-proving the distributed rank's prefix-sum offsets).
        "token_pack_batches": (
            qcur.q_token_packing,
            qcur.token_pack_batches_sql,
            lambda r: dict(budget=r.choice([64, 256, 1024, 2048, 8192])),
        ),
        "token_budget_selection": (
            qcur.q_token_budget_selection,
            qcur.token_budget_selection_sql,
            lambda r: dict(budget=r.choice([500, 1000, 4000, 16000, 64000])),
        ),
        "sample_stratified_hash": (
            qcur.q_sample_stratified,
            qcur.sample_stratified_hash_sql,
            lambda r: dict(
                strata={
                    lang: r.randrange(0, 257, 16)
                    for lang in r.sample(["en", "es", "de", "fr", "it"], r.randint(2, 4))
                },
                default_keep=r.randrange(16, 257, 16),
            ),
        ),
        "dataset_split_counts": (
            qcur.q_dataset_split,
            qcur.dataset_split_counts_sql,
            lambda r: dict(
                train_cut=(tc := r.choice([128, 200, 240, 250])),
                val_cut=tc + r.choice([0, 3, 8, 16]),
            ),
        ),
        "corpus_shuffle_batches": (
            qcur.q_corpus_shuffle_batches,
            qcur.corpus_shuffle_batches_sql,
            lambda r: dict(
                seed=f"epoch{r.randint(0, 9)}", batch=r.choice([16, 64, 256, 1024])
            ),
        ),
        # round-12 margin targets beyond the verdict's 62 bar: the PIT
        # feature-store join's dim/probe event types (reshapes both
        # union sides; re-probes the same-instant side-ordering
        # tie-break at every pairing), and the full Gopher threshold
        # vector on clean 2-decimal grids (every keep/drop gate at
        # perturbed boundaries, testdata-domain-centered so flags
        # actually flip).
        "pit_join_purchase_state": (
            qw.q_pit_join_purchase_state,
            qw.pit_join_purchase_state_sql,
            lambda r: dict(
                **dict(
                    zip(
                        ("dim_type", "probe_type"),
                        r.sample(
                            ["click", "error", "purchase", "signup", "view"], 2
                        ),
                    )
                )
            ),
        ),
        "gopher_quality_flags": (
            qtr.q_gopher_quality,
            qtr._gopher_oracle,
            lambda r: dict(
                words_lo=r.choice([10, 25, 50, 80]),
                words_hi=r.choice([120, 200, 1000, 100_000]),
                wl_lo=r.choice([2.0, 3.0, 4.0, 4.5]),
                wl_hi=r.choice([5.0, 6.0, 8.0, 10.0]),
                sym_max=r.choice([0.0, 0.05, 0.1, 0.2]),
                bullet_max=r.choice([0.0, 0.25, 0.5, 0.9]),
                ellip_max=r.choice([0.0, 0.1, 0.3]),
                alpha_min=r.choice([0.5, 0.8, 0.95, 1.0]),
                min_stop=r.randint(1, 4),
            ),
        ),
        # round-12 (r11 verdict #5): warehouse time semantics. SCD2
        # validity edges — etypes reshapes the version chains, as_of
        # probes the half-open [valid_from, valid_to) interval at a
        # drawn instant (None = full-history registered default path).
        # Events span 2024-01 (epoch 1704067200..1706659200).
        "scd2_user_event_history": (
            qw.q_scd2_user_event_history,
            qw.scd2_user_event_history_sql,
            lambda r: dict(
                etypes=tuple(
                    sorted(
                        r.sample(
                            ["click", "error", "purchase", "signup", "view"],
                            r.randint(2, 4),
                        )
                    )
                ),
                as_of_epoch=(
                    None if r.random() < 0.3 else r.randint(1704067200, 1706659200)
                ),
            ),
        ),
        # attribution lookback edges: the window bound decides which
        # touches attribute; the first-touch twin runs it as a RANGE
        # frame bound (micros), the last-touch as a post-filter.
        "last_touch_attribution": (
            qw.q_last_touch_attribution,
            qw.last_touch_attribution_sql,
            lambda r: dict(
                lookback_s=r.choice([1800, 3600, 7200, 21600, 43200, 86400, 172800])
            ),
        ),
        "first_touch_attribution": (
            qw.q_first_touch_attribution,
            qw.first_touch_attribution_sql,
            lambda r: dict(
                lookback_s=r.choice([1800, 3600, 7200, 21600, 43200, 86400, 172800])
            ),
        ),
        "conversion_lag_quantiles": (
            qw.q_conversion_lag_quantiles,
            qw.conversion_lag_quantiles_sql,
            lambda r: dict(
                lookback_s=r.choice([3600, 21600, 86400, 172800]),
                p_lo=r.choice([0.25, 0.5]),
                p_hi=r.choice([0.75, 0.9, 0.95]),
            ),
        ),
        # U-shape geometry: w_edge on a 2-decimal grid so the interior
        # literal round(1 - 2*w_edge, 2) is the same double on both
        # engines.
        "position_based_attribution": (
            qw.q_position_attribution,
            qw.position_based_attribution_sql,
            lambda r: dict(
                window_s=r.choice([3600, 21600, 43200, 86400, 172800]),
                w_edge=r.choice([0.3, 0.35, 0.4, 0.45]),
            ),
        ),
        # bitemporal correction history: mods/tx-lags/snapshot dates
        # rebuild the version store AND the oracle per draw; mod2 a
        # multiple of mod1 keeps the v1->v2 nesting story.
        "bitemporal_snapshot_revenue": (
            qw.q_bitemporal_snapshot_revenue,
            qw.bitemporal_snapshot_revenue_sql,
            lambda r: dict(
                mod1=(m1 := r.choice([5, 7, 9, 11])),
                mod2=m1 * r.choice([2, 3]),
                lag1=(l1 := r.choice([15, 30, 45])),
                lag2=l1 + r.choice([15, 30, 45]),
                snapshots=tuple(
                    sorted(
                        f"{r.randint(1996, 2002)}-{r.randint(1, 12):02d}-01"
                        for _ in range(r.randint(3, 5))
                    )
                ),
            ),
        ),
        # watermark delay drawn ON the day grid too (24/48 h): if either
        # engine treated window_end == watermark as surviving, the
        # equality-edge draw diverges. chunks reshapes the replay.
        "streaming_late_data_watermark": (
            qw.q_streaming_late_data_watermark,
            qw.streaming_late_data_watermark_sql,
            lambda r: dict(
                delay_h=r.choice([12, 24, 36, 48, 60, 84]),
                chunks=r.choice([2, 3, 4]),
            ),
        ),
        # live session_window stream vs the gaps-and-islands oracle at
        # a drawn gap — micro-batch session merging must agree at every
        # geometry, not just 30 min.
        "streaming_session_windows": (
            qw.q_streaming_session_windows,
            qm.session_window_builtin_sql,
            lambda r: dict(gap_min=r.choice([10, 20, 30, 45, 60, 90])),
        ),
        # round-10 part 2: similarity thresholds — both engines compute
        # the same exact-integer intersection / size division in
        # double, so the >= gate must agree at EVERY drawn threshold
        # (boundary pairs included). dedup_setsim_prefix is the prize:
        # its prefix length is ceil arithmetic in t, so each draw
        # re-proves PPJoin losslessness at a different prefix geometry.
        # dedup_cluster_assignment re-proves the iterative min-label
        # loop against the recursive-CTE fixpoint on a different graph
        # per draw.
        # draw spaces target where the corpus pair mass actually sits
        # (measured at sf0.01: ~3.4k noise pairs below 0.1, 25 replica
        # pairs above 0.9, nothing between) so draws flip boundary
        # pairs instead of sampling the empty middle.
        "dedup_ngram_jaccard": (
            qllm.q_jaccard,
            qllm.dedup_ngram_jaccard_sql,
            lambda r: dict(
                threshold=r.choice(
                    [0.02, 0.03, 0.04, 0.05, 0.06, 0.08, 0.1, 0.9, 0.92, 0.95, 0.98]
                )
            ),
        ),
        "dedup_setsim_prefix": (
            qllm.q_setsim_prefix,
            # prefix filtering is lossless: the oracle is all-pairs
            # Jaccard, at this query's own default threshold
            functools.partial(qllm.dedup_ngram_jaccard_sql, threshold=0.5),
            lambda r: dict(
                threshold=r.choice([0.1, 0.3, 0.5, 0.7, 0.9, 0.95])
            ),
        ),
        "dedup_containment_pairs": (
            qllm.q_containment,
            qllm.dedup_containment_pairs_sql,
            lambda r: dict(
                threshold=r.choice([0.1, 0.3, 0.5, 0.7, 0.9, 0.95, 0.98])
            ),
        ),
        # low draws (0.04-0.08) build a DENSE graph from the noise
        # pairs — thousands of edges through the min-label fixpoint vs
        # the recursive CTE, not just the 25 replica edges.
        "dedup_cluster_assignment": (
            qcur.q_dedup_clusters,
            qcur.dedup_cluster_assignment_sql,
            lambda r: dict(
                threshold=r.choice([0.04, 0.06, 0.08, 0.3, 0.9, 0.95])
            ),
        ),
        # round-11: ANN-index / sketch GEOMETRY (r10 verdict #5) — the
        # parameters that decide recall and band correctness the way
        # time geometry decided bucket edges. Deterministic-twin
        # queries (cosine/LSH/IVF) rebuild BOTH engines' index from
        # each draw, so a geometry-dependent divergence (band key
        # packing, probe rank ties, top-k cutoff) fails the hash;
        # planted-recall / tolerance-band queries re-prove the
        # contract booleans at every precision.
        "ann_cosine_topk": (
            qllm.q_ann_topk,
            qllm.ann_cosine_topk_sql,
            lambda r: dict(k=r.randint(3, 20), nq=r.randint(2, 8)),
        ),
        "ann_lsh_bucketed_topk": (
            qllm.q_lsh_topk,
            qllm.ann_lsh_bucketed_topk_sql,
            lambda r: dict(
                k=r.randint(5, 15),
                nq=r.randint(3, 7),
                **r.choice(
                    [
                        dict(n_planes=24, bands=12),
                        dict(n_planes=16, bands=8),
                        dict(n_planes=24, bands=8),
                        dict(n_planes=32, bands=16),
                        dict(n_planes=24, bands=6),
                        dict(n_planes=16, bands=4),
                    ]
                ),
            ),
        ),
        "ann_ivf_topk": (
            qllm.q_ivf_topk,
            qllm.ann_ivf_topk_sql,
            lambda r: dict(
                k=r.randint(5, 15), nprobe=r.randint(1, 4), nq=r.randint(3, 7)
            ),
        ),
        "ann_ivf_kmeans_topk": (
            qllm.q_ivf_kmeans_topk,
            qllm.ann_ivf_kmeans_topk_sql,
            lambda r: dict(
                k=r.choice([5, 8, 10, 12]), nprobe=r.randint(2, 4), nq=r.randint(3, 7)
            ),
        ),
        "ann_pq_topk": (
            qsc.q_ann_pq_topk,
            qsc.ann_pq_topk_sql,
            lambda r: dict(
                k=r.choice([5, 8, 10, 12]),
                m=r.choice([4, 8, 16]),
                shortlist=r.choice([60, 100, 150]),
                nq=r.randint(3, 7),
            ),
        ),
        "profile_lineitem_columns_approx": (
            qsc.q_profile_lineitem_approx,
            qsc.profile_lineitem_columns_approx_sql,
            lambda r: dict(rsd=r.choice([0.02, 0.03, 0.05, 0.08, 0.1])),
        ),
        "events_value_histogram": (
            qsc.q_events_value_histogram,
            qsc.events_value_histogram_sql,
            lambda r: dict(
                lo=0.0,
                hi=r.choice([50.0, 100.0, 200.0]),
                n_bins=r.choice([5, 10, 16, 20, 40]),
            ),
        ),
        "approx_quantiles_events": (
            qsc.q_approx_quantiles,
            qsc.approx_quantiles_events_sql,
            lambda r: dict(accuracy=r.choice([100, 1000, 10000, 50000])),
        ),
        "approx_distinct_users": (
            qdc.q_approx_distinct,
            qdc.approx_distinct_users_sql,
            lambda r: dict(rsd=r.choice([0.02, 0.03, 0.05, 0.08, 0.1])),
        ),
        "hll_sketch_rollup": (
            qdc.q_hll_sketch_rollup,
            qdc.hll_sketch_rollup_sql,
            lambda r: dict(lgk=r.choice([11, 12, 13, 14])),
        ),
        # round-11 part 2: the dedup-index geometry everyone actually
        # tunes (k signature rows x band count decides the LSH
        # s-curve), plus the recursive-smoothing constants (EWMA /
        # Croston / Holt / Theta / PageRank damping) — each draw
        # re-proves the sequential fold agrees bit-for-bit across
        # engines at a different recursion geometry — and the
        # attribution window whose edges decide which touches share a
        # conversion. Alphas drawn on clean two-decimal grids so both
        # engines parse the identical double literal.
        "dedup_minhash_lsh": (
            qllm.q_minhash_lsh,
            qllm.dedup_minhash_lsh_sql,
            lambda r: dict(
                threshold=r.choice([0.2, 0.3, 0.5, 0.9]),
                **r.choice(
                    [
                        dict(k=16, bands=4),
                        dict(k=24, bands=8),
                        dict(k=32, bands=4),
                        dict(k=16, bands=8),
                        dict(k=12, bands=6),
                        dict(k=24, bands=4),
                    ]
                ),
            ),
        ),
        "ewma_weekly_demand": (
            qsc.q_ewma_weekly_demand,
            qsc.ewma_weekly_demand_sql,
            lambda r: dict(alpha=r.choice([0.1, 0.2, 0.25, 0.3, 0.5, 0.7, 0.9])),
        ),
        "croston_forecast": (
            qsc.q_croston_forecast,
            qsc.croston_forecast_sql,
            lambda r: dict(alpha=r.choice([0.05, 0.1, 0.2, 0.3, 0.5])),
        ),
        "holt_linear_forecast": (
            qtr.q_holt_linear_forecast,
            qtr.holt_linear_forecast_sql,
            lambda r: dict(
                alpha=r.choice([0.2, 0.3, 0.5, 0.7]),
                beta=r.choice([0.05, 0.1, 0.2, 0.3]),
            ),
        ),
        "theta_forecast": (
            qtr.q_theta_forecast,
            qtr.theta_forecast_sql,
            lambda r: dict(alpha=r.choice([0.1, 0.2, 0.3, 0.5, 0.7])),
        ),
        "pagerank_event_graph": (
            qtr.q_pagerank_events,
            qtr.pagerank_event_graph_sql,
            lambda r: dict(
                damping=r.choice([0.7, 0.8, 0.85, 0.9]),
                iters=r.randint(3, 6),
            ),
        ),
        "time_decay_attribution": (
            qw.q_time_decay_attribution,
            qw.time_decay_attribution_sql,
            lambda r: dict(window_h=r.choice([6, 12, 24, 48, 72])),
        ),
    }


def main() -> int:
    argv = list(sys.argv[1:])
    json_out, seeds = None, 5
    rest: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--json":
            json_out = argv[i + 1]
            i += 2
        elif a == "--seeds":
            seeds = int(argv[i + 1])
            i += 2
        elif a.startswith("--"):
            print(f"unknown flag {a!r}", file=sys.stderr)
            return 2
        else:
            rest.append(a)
            i += 1
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    filters = [p for a in rest[1:] for p in a.split(",") if p]

    targets = _targets()
    if filters:
        targets = {k: v for k, v in targets.items() if any(f in k for f in filters)}
        if not targets:
            print("no targets match the filter", file=sys.stderr)
            return 2

    spark = get_spark("fuzz-oracles")
    report: dict[str, dict] = {}
    n_fail = 0
    for name, (fn, sql_builder, sampler) in targets.items():
        for seed in range(seeds):
            rng = random.Random(f"{name}:{seed}")
            params = sampler(rng)
            key = f"{name}[{seed}]"
            t0 = time.time()
            try:
                res = compare_query(
                    spark,
                    key,
                    lambda s, d: fn(s, d, **params),
                    sql_builder(**params),
                    sf_dir,
                )
                row = {
                    "ok": res.ok,
                    "rows": res.rows_spark,
                    "params": {
                        k: list(v) if isinstance(v, tuple) else v
                        for k, v in params.items()
                    },
                    "sec": round(time.time() - t0, 1),
                }
                if not res.ok:
                    row["issues"] = res.issues[:4]
                    n_fail += 1
                    print(res)
                else:
                    print(f"[OK ] {key}: rows={res.rows_spark} ({row['sec']}s) {params}")
            except Exception as e:  # noqa: BLE001 — recorded, not masked
                row = {"ok": False, "err": f"{type(e).__name__}: {e}", "params": str(params)}
                n_fail += 1
                print(f"[ERR] {key}: {row['err']}")
            report[key] = row

    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "seeds_per_query": seeds,
                    "n_queries": len(targets),
                    "n_draws": len(report),
                    "n_fail": n_fail,
                    "results": report,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out} ({len(report)} draws, {n_fail} failures)")
    print("\nALL OK" if n_fail == 0 else f"\n{n_fail} FAILED")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
