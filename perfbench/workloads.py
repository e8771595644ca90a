"""The benchmark's workloads: which catalog entries each issues and the
input it runs on. Every entry of a workload runs once per pass; see
perfbench/README.md for why these entries and these sizes."""

# Entries that read the car-price CSV (CarPrice_Assignment.csv), which is
# not part of the repository: both fail with PATH_NOT_FOUND without it.
# Re-add them to `analytics` once the file is in the repository.
EXCLUDED = {
    "q99_csv_lifecycle": "reads CarPrice_Assignment.csv, not in the repository",
    "q113_carprice_golden": "reads CarPrice_Assignment.csv, not in the repository",
}

WORKLOADS = {
    # relational, statistics and ML entries over a 10x key-shifted replica
    # (60,000 lineitem rows): short SQL ops plus driver-side fits
    "analytics": {
        "scale": 0.001, "replicas": 10, "text_scale": 0.01,
        "ops": ["q02_pricing_summary", "q09_null_counts", "q16_rollup",
                "q22_time_window", "q24_scalar_funcs", "q27_welch_ttest",
                "q50_fpgrowth_rules", "q57_rf_importance"],
    },
    # text curation over 500 documents: exact dedup,
    # quality, language id and BPE,
    # plus the SimHash ingest loop (lands shards, drains micro-batches into
    # persisted tables under the writer fence, checks them against a rebuild)
    "curation": {
        "scale": 0.001, "replicas": 1, "text_scale": 0.01,
        "ops": ["q31_dedup_exact", "q36_text_quality", "q37_langid", "q128_bpe_count",
                "q134_simhash_ingest"],
    },
}

for _w in WORKLOADS.values():
    assert not EXCLUDED.keys() & set(_w["ops"])
