"""DataFrame-transform operators.

``kernels`` — the reference's numpy codec kernels as window/column ops.
``timeunits`` — date-unit registry.
``asof`` — as-of / range joins (gap list, SURVEY §2.7).
``resample`` — regular-grid resample + gap fill.
``dedup`` / ``similarity`` / ``text`` / ``multimodal`` — the
LLM-pipeline extensions.
"""
