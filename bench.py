"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Extra fields (harmless to the contract, used by BENCH notes):
- rollup_points_per_sec: rolled-up 1m/1h/1d tier points per second on the
  synthetic transcript table (the BASELINE.json target metric);
- cold_encode_points_per_sec: gorilla cold-tier encode throughput.

Scaling-efficiency evidence (north rule, N vs 4N executors) is produced by
``scripts/scaling_bench.py`` which runs THIS suite at two parallelism
levels; results are recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tsdat_spark.rollup import reaggregate_tier, rollup_tier, tier_summary
    from tsdat_spark.session import get_spark
    from tsdat_spark.io.coldstore import encode_cold_blocks
    from tsdat_spark.standardize import with_token_len, with_turn_latency
    from tsdat_spark.synth import SynthSpec, generate_transcripts
    from tsdat_spark import queries as Q

    spark = get_spark(app_name="tsdat_spark_bench", cores=cpus, shuffle_partitions=cpus)

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # Host-weather probe: the sandbox VM's DRAM bandwidth is hypervisor-
    # throttled in multi-minute episodes (up to 30x — BENCH.md §noise,
    # membw_calibration.json). A single-thread 10M-double sort takes ~1-2 s
    # on calm hardware; report it so a slow suite number is attributable.
    import numpy as _np

    _t0 = time.time()
    _np.sort(_np.random.default_rng(0).random(10_000_000))
    extra["host_probe_sort10m_sec"] = round(time.time() - _t0, 2)

    def run(name, thunk, repeats: int = 2):
        """Best-of-N timing: the host suffers transient starvation episodes
        (documented in BENCH.md), so a single-shot sample conflates engine
        speed with host weather; min-of-2 is the cheapest robust estimator
        and also reports steady-state (post-JIT) throughput."""
        best, result = float("inf"), None
        for _ in range(repeats):
            t0 = time.time()
            result = thunk()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        return result, best

    # --- oracle-suite queries on the driver's sf dir -----------------------
    qs = entrymod.queries()
    for name in (
        "standardize_transcripts", "rollup_1m", "rollup_1h", "tier_summary_1h",
        "qc_monotonic_value", "qc_std_value", "gap_fill_1h", "bin_average_30m",
        "nearest_1h", "interpolate_1h", "dedup_exact", "token_count",
        "text_quality", "knn_cosine", "top_tokens", "distinct_tier_hll",
        "ivf_assign", "ivf_search", "sample_stratified",
        # round 5: the dedup/LSH family joins the perf-tracked suite so
        # plan regressions in the LLM-ops operators are visible per round
        "lsh_pairs", "jaccard_pairs", "ann_lsh", "ann_lsh_multi",
        "dedup_clusters",
        # round 5 late additions: plot downsample + text-quality/contamination
        "m4_downsample", "repetition_signals", "contamination_overlap",
        # round 5 corpus-preparation trio + tokenizer training
        "pii_scrub", "line_dedup", "pack_sequences", "bpe_train",
        # round 6: CCNet-style LM quality scoring
        "lm_perplexity",
        # round 6: substring dup-spans + scrub, bloom incremental dedup,
        # tf-idf keywords, DSIR importance weights
        "substring_dedup", "substring_scrub", "bloom_dedup",
        "tfidf_top_terms", "dsir_weights", "bm25_top_terms",
        "knn_classify", "normalize_text",
    ):
        run(name, lambda n=name: qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save())

    # --- engine tier cascade on synthetic transcripts at matched scale -----
    # sf0.1 ≈ 600k lineitem rows → size the synthetic table comparably.
    # Tiers flow through parquet like the production pipeline — on-heap
    # persist of blob-heavy tier rows goes GC-bound at high core counts.
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bench_tiers_")
    n_turns_target = max(int(6_000_000 * sf), 60_000)
    n_convs = max(n_turns_target // 2_000, 8)
    spec = SynthSpec(n_convs=n_convs, base_turns=2_000, n_mega=max(n_convs // 100, 1),
                     mega_turns=40_000, partitions=cpus * 2)
    with_turn_latency(with_token_len(generate_transcripts(spark, spec))).write.mode(
        "overwrite").parquet(f"{tmp}/base")
    synth = spark.read.parquet(f"{tmp}/base")
    n_rows = synth.count()

    counts = {}

    def stage_1m():
        rollup_tier(synth, "1m", salt=8).write.mode("overwrite").parquet(f"{tmp}/t1m")
        counts["n_1m"] = spark.read.parquet(f"{tmp}/t1m").count()

    run("tier_1m_synth", stage_1m)
    t1m = spark.read.parquet(f"{tmp}/t1m")
    n_1m = counts["n_1m"]

    def stage_1h():
        reaggregate_tier(t1m, "1h").write.mode("overwrite").parquet(f"{tmp}/t1h")
        counts["n_1h"] = spark.read.parquet(f"{tmp}/t1h").count()

    run("tier_1h_reagg", stage_1h)
    t1h = spark.read.parquet(f"{tmp}/t1h")
    n_1h = counts["n_1h"]

    run("tier_1d_reagg", lambda: counts.__setitem__("n_1d", reaggregate_tier(t1h, "1d").count()))
    n_1d = counts["n_1d"]
    run("tier_summary_synth", lambda: tier_summary(t1m).write.format("noop").mode("overwrite").save())

    rollup_sec = timings["tier_1m_synth"] + timings["tier_1h_reagg"] + timings["tier_1d_reagg"]
    extra["synth_turns"] = n_rows
    extra["rolled_up_points"] = n_1m + n_1h + n_1d
    extra["rollup_points_per_sec"] = round((n_1m + n_1h + n_1d) / max(rollup_sec, 1e-9), 1)
    extra["raw_turns_per_sec_1m"] = round(n_rows / max(timings["tier_1m_synth"], 1e-9), 1)

    def stage_cold():
        blocks = encode_cold_blocks(synth.withColumn("v", F.col("turn_idx").cast("double")),
                                    ["conv_id"], "ts", "v")
        counts["cold"] = blocks.select(F.sum("n_points"), F.sum(F.length("block"))).first()

    run("cold_encode", stage_cold)
    stats = counts["cold"]
    extra["cold_encode_points_per_sec"] = round((stats[0] or 0) / max(timings["cold_encode"], 1e-9), 1)
    extra["cold_bytes_per_point"] = round((stats[1] or 1) / max(stats[0] or 1, 1), 2)

    def stage_zstd():
        # zstd encode+decode (libzstd via pyarrow) inside Spark tasks
        # (the zarr/HDF5 sink path) — one ~128 KiB jsonl-ish chunk per row
        import pandas as pd

        from tsdat_spark.compress.zstd import zstd_compress, zstd_decompress

        blob = "".join(
            '{"ts":%d,"conv_id":"c%d","role":"assistant","text":"turn %d"}\n'
            % (1_724_000_000 + i, i % 97, i * 7) for i in range(2200)
        ).encode()

        def work(it):
            for pdf in it:
                rows = []
                for _ in pdf["id"]:
                    enc = zstd_compress(blob)
                    assert zstd_decompress(enc) == blob
                    rows.append((len(blob), len(enc)))
                yield pd.DataFrame(rows, columns=["raw", "enc"])

        counts["zstd"] = (
            spark.range(cpus * 2).repartition(cpus)
            .mapInPandas(work, "raw long, enc long")
            .agg(F.sum("raw"), F.sum("enc")).first()
        )

    run("zstd_codec", stage_zstd)
    zraw, zenc = counts["zstd"]
    extra["zstd_roundtrip_mb_per_sec"] = round(
        (zraw or 0) / 1e6 / max(timings["zstd_codec"], 1e-9), 2)
    extra["zstd_ratio"] = round((zenc or 1) / max(zraw or 1, 1), 4)


    total = round(sum(timings.values()), 3)
    # Round-over-round comparability: the suite gained three queries in
    # round 3 (top_tokens, distinct_tier_hll, ivf_assign); this subtotal is
    # the round-2 composition so BENCH_r{N} deltas compare like with like.
    _r3_new = ("top_tokens", "distinct_tier_hll", "ivf_assign")
    _r4_new = ("ivf_search", "sample_stratified")
    _r5_new = ("lsh_pairs", "jaccard_pairs", "ann_lsh", "ann_lsh_multi",
               "dedup_clusters", "m4_downsample", "repetition_signals",
               "contamination_overlap", "pii_scrub", "line_dedup",
               "pack_sequences", "bpe_train")
    _r6_new = ("zstd_codec", "lm_perplexity", "substring_dedup",
               "substring_scrub", "bloom_dedup", "tfidf_top_terms",
               "dsir_weights", "bm25_top_terms", "knn_classify",
               "normalize_text")
    extra["suite_r02_comparable_sec"] = round(
        sum(v for k, v in timings.items()
            if k not in _r3_new + _r4_new + _r5_new + _r6_new), 3
    )
    extra["suite_r03_comparable_sec"] = round(
        sum(v for k, v in timings.items()
            if k not in _r4_new + _r5_new + _r6_new), 3
    )
    extra["suite_r04_comparable_sec"] = round(
        sum(v for k, v in timings.items() if k not in _r5_new + _r6_new), 3
    )
    extra["suite_r05_comparable_sec"] = round(
        sum(v for k, v in timings.items() if k not in _r6_new), 3
    )
    print(json.dumps({
        "metric": "tsdat_spark_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "extra": extra,
    }))


if __name__ == "__main__":
    main()
