"""Operator families that sit beside the rail pipeline: dedup, text,
similarity search, multimodal codecs, ML evaluation, statistics,
behaviour analytics, graph, sketch and Structured Streaming operators,
with their query gates and DuckDB oracles.

Nothing in ``nl_railtraffic_etl_pipeline_spark``, ``perfbench`` or the
driver contract imports this package; its tests do.

Layout (mirrors the rail package):
    functions/    column-expression and kernel libraries per family
    operators/    as-of, point-in-time, range and skew joins, SCD2, CDC
    sources/      versioned zones and lake maintenance tools
    streaming/    incremental (Structured Streaming) operators
    plans/        the family gates and their registry
"""
