"""Operator kernels that sit beside the rail pipeline: dedup, text,
similarity search, multimodal codecs, ML evaluation, statistics,
behaviour analytics, graph and sketch operators.

There are no gates here: every gate is a rail gate in
``nl_railtraffic_etl_pipeline_spark.plans.registry``.  Nothing in
``nl_railtraffic_etl_pipeline_spark``, ``tools``, ``perfbench`` or the
driver contract imports this package
(``tests/test_plan_shapes.py::test_program_never_imports_operator_families``);
only its own tests do.

Layout:
    functions/    column-expression and kernel libraries per family
"""
