"""Workload definitions shared by the benchmark's parent and child
processes: the operator key list and the `migrate_etl` input size."""

from __future__ import annotations

#: Operator keys of the `operators` workload, in `bench.STABLE_V10`
#: order, one or more per `ops.<module>` layer. Each key carries its
#: class: "iterative" keys run Spark jobs from the driver while they
#: build their plan (loop rounds, power iteration, the memoized LSH
#: pair table that pipeline_data_funnel reuses from dedup_minhash_lsh);
#: "single_pass" keys build their plan without jobs, so execution is
#: their cost.
OPERATORS = (
    ("join_sortmerge", "single_pass"),              # relational
    ("dedup_minhash_lsh", "iterative"),             # dedup
    ("sql_large_volume_customers", "single_pass"),  # sqlapi
    ("join_temporal", "single_pass"),               # cdc
    ("text_tfidf", "single_pass"),                  # text
    ("join_salted", "single_pass"),                 # relational_ext
    ("pca_power_top1", "iterative"),                # similarity
    ("events_ohlc", "single_pass"),                 # analytics
    ("graph_pagerank", "iterative"),                # graph
    ("pipeline_data_funnel", "iterative"),          # corpus
    ("mm_phash", "single_pass"),                    # multimodal
)

KEY_CLASSES = ("iterative", "single_pass")

#: untimed first query of an operator run (bench.py starts the same
#: way): it pays the session's first analysis, planning and codegen
WARMUP_KEY = "agg_count"

#: operator tables: the fixed seed-42 testdata under perfbench/data,
#: timed at sf0.01, warm-up query at sf0.001
TIMED_SF = "sf0.01"
WARMUP_SF = "sf0.001"

#: migrate_etl input size
MIGRATE_CUSTOMERS = 100_000
MIGRATE_MAPPING_ROWS = 50_000
