"""ms_ocr_spark — a PySpark-native document-extraction analytics engine.

A from-scratch re-expression of the extraction semantics of the reference
OCR microservice (cimo/Ms_ocr, surveyed in SURVEY.md) as a batch DataFrame
job over tables of interleaved text + media documents, plus the relational
/ dedup / similarity operator suite a large-scale training-data pipeline
needs.

Design rules (see SURVEY.md §7):
  * DataFrame/SQL first — Catalyst owns the physical plan.
  * Python only inside vectorized Arrow UDFs (never per-row).
  * Order-dependent reference semantics carried by explicit order columns.
  * Deterministic everything — seeded generators, pure kernels.
"""

__version__ = "0.1.0"
