"""afspark — a PySpark-native time-series rollup/downsample/retention engine.

Replays the windowed-feature (``Score``) semantics of the reference
AcousticFeatures.jl (/root/reference, v0.1.15) as vectorized numpy kernels
behind Arrow-batched pandas UDFs, over Common-Crawl-style page tables
partitioned for 100TB scale.  Architecture is Spark-first (DataFrame /
Catalyst); nothing is a line-by-line port — see SURVEY.md.

Layout
------
functions/   pure numpy kernels (reference semantics, no Spark), codecs
operators/   DataFrame operators: windows, score, rollup (incl. incremental
             refresh + percentile tiers), gapfill, tsanalytics (counter
             rate, z-score anomalies), asof, sessions, rangejoin, lttb,
             dedup, similarity, text, multimodal
sources/     deterministic pages/samples generators, chunk codec, manifest
             snapshots, z-order clustering
streaming/   checkpoint/lineage + resume, the date-partitioned tier store
             (bucket_date=: late-data merge, retention, compaction),
             Structured Streaming twins
"""

__version__ = "0.1.0"
