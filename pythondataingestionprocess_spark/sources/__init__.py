"""Sources & sinks (SURVEY.md §2.1 S1-S11, §7 Phase 4).

- :mod:`.statement` — BBVA statement extraction (S1/S7/S8 + F1-F5/P6)
  as Spark expressions over a text column; PDF decode by the stdlib
  codec :mod:`.pdf_lite`.
- :mod:`.workbook` — two-sheet inventory workbook source (S2/S3/S4,
  P2 validation, §1.5 degradation) + sheet deep-clean into the
  pipeline's typed contract; decode and write by the stdlib codec
  :mod:`.xlsx_lite`.
- :mod:`.files` — directory scan + archive/dead-letter routing
  (S5/S6); the streaming twin lives in streaming/file_ingest.
"""
