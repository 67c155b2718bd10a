"""Benchmark workloads: which ``queries()`` keys one pass runs, and why.

Every op is a public builder of the driver contract (``__spark_entry__``),
run on the seeded sf0.01 tables (see ``inputs.py``). ``tables`` are the
inputs a set-up scans once. ``ops`` run in every pass of every run.
``trace_ops`` run only in the traced run (``--trace 1``), in every pass
beside ``ops``: they reach the layers ``ops`` do not, so every layer the
per-layer metrics name reads non-zero on some workload. They stay out of
the timed runs because a run must stay near one minute; README.md gives
their cost.
"""

from __future__ import annotations

WORKLOADS = {
    "scene_etl": {
        "why": "the convml-data scene pipeline and a stream drain to parquet: ops of 1-15 "
               "Spark jobs, so per-op and per-job fixed cost dominates",
        "tables": ("events",),
        "ops": (
            "spec_aux_derived",  # pipeline, plans.derived, asof, binning, calendar, scenes
            "stream_parquet_drain",  # streaming, parquet write path
        ),
        "trace_ops": (
            "w7_sessionize",  # windows
            "f1_time_intervals",  # filters
            "w5_sliding_tiles",  # tiler
            "g1_nearest_regrid",  # grids
            "g8_rgb_composite",  # images
        ),
    },
    "llm_dedup": {
        "why": "near-duplicate clustering whose plan construction launches about 40 Spark "
               "jobs, beside an exec-bound set-similarity join as the control",
        "tables": ("documents", "embeddings"),
        "ops": (
            "dedup_components",  # dedup, similarity: connected components
            "dedup_jaccard_prefix",  # dedup: prefix-filtered Jaccard join
        ),
        "trace_ops": (
            "kmeans_labels",  # clustering
            "spm_encode",  # spm, Python UDF (Arrow mapInPandas)
            "wordpiece_vocab",  # wordpiece
            "quality_classifier",  # corpus
        ),
    },
}
