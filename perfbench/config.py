"""Frozen benchmark settings: the query battery, the input sizes and
the host-sized Spark session.

The battery names are copied here, not imported from ``bench.py``, so
that editing the old harness cannot change what this benchmark runs.
"""

from __future__ import annotations

import os

from perfbench.gen import SeqSpec

#: the 74 ``bench.py`` battery queries, frozen
BATTERY = (
    "rollup_1m rollup_1h gapfill_locf_1h pricing_summary revenue_by_segment "
    "topk_orders_per_segment dedup_minhash_lsh dedup_simhash token_count "
    "ann_cosine_topk asof_enrich twa_1h sketch_merge_1h multimodal_decode "
    "sessionize_events m4_downsample rolling_zscore contamination_ngram "
    "rollup_1h_midpoint repetition_stats pii_scrub ann_ivf_topk "
    "pack_documents_chunked ewma_1h holt_1h cusum_1h trend_slope seasonal_1h "
    "autocorr_1h gap_report_1h histogram_drift_1d rank_shift_1h burstiness_1h "
    "level_shift_1h lead_lag_1h percentile_drift_1d pack_stats vocab_drift_1d "
    "token_entropy bucket_15m_offset sliding_1h_30m resample_15m_locf sax_1d "
    "duplicate_spans merge_intervals_4h dedup_containment mad_outliers "
    "theil_sen_168h flatline_1h benford_values curate_corpus asof_interpolate "
    "funnel_latency ohlc_1h drawdown_1h volume_gini_1d user_flow collocations "
    "screen_report_1h spearman_1h rollup_1w rollup_1mo expectations "
    "chunk_documents token_coverage zipf_fit winsorized_1d seasonal_naive_1h "
    "embedding_drift_1d freshness user_growth_1d gap_percentiles "
    "length_histogram record_highs_1h"
).split()

#: input sizes.  Each Spark job costs ~0.2 s of fixed overhead and a
#: pipeline unit runs ~100 of them, so a unit takes ~25 s on 4 cores and
#: a bigger input would mostly lengthen the run count's total time.
SIZES = {"ingest": SeqSpec(n_sources=8, seqs_per_source=5_000),
         "star_sf": 0.001}

#: repetitions of the warm-up; setup_s = session start + their median
SETUP_REPS = 3

#: repetitions of the host gauge before and after the timed units
GAUGE_REPS = 7


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_conf(work: str, event_log: str | None) -> dict:
    """Spark settings sized for this host: every core, a fixed driver
    heap (``-Xms`` = ``-Xmx``) of 1/8 of physical memory, GC threads =
    cores, and every file Spark writes inside the benchmark's work area.
    A fixed heap keeps the JVM's peak RSS from depending on when the
    collector happened to grow the heap."""
    cores = os.cpu_count() or 1
    heap_mb = max(1024, mem_total_mb() // 8)
    conf = {
        "master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:ParallelGCThreads={cores} "
            f"-XX:ConcGCThreads={max(1, cores // 4)} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf
