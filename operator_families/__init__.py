"""Operator families that sit beside the rail pipeline: dedup, text,
similarity search, multimodal codecs, ML evaluation, statistics,
behaviour analytics, graph and sketch operators, with their query gates
and DuckDB oracles.

Nothing in ``nl_railtraffic_etl_pipeline_spark``, ``perfbench`` or the
driver contract imports this package; its tests do.

Layout:
    functions/    column-expression and kernel libraries per family
    plans/        the family gates and their registry
"""
