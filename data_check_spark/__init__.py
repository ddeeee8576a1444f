"""data_check_spark — a from-scratch PySpark-native schema + constraint
validation engine.

Re-expresses the semantics of the reference data-quality tool
(TakeshiImakurusu/data-check: a pandas row-loop evaluating ~145 declarative
integrity rules and emitting violation rows + summary aggregates) as a
declarative rule catalog compiled into single-pass Spark DataFrame plans over
an Iceberg-style table of audio clip + transcript pairs.

Architecture (Spark-first, NOT a port):

- ``schemas``     — pinned StructTypes for the clip fact table, dimension
                    tables, violations, per-partition verdicts, checkpoints.
- ``rules``       — rule specs (JSON-able) + compiler: every row-local rule
                    becomes a ``pyspark.sql.Column`` predicate; ALL rules are
                    evaluated in ONE projection pass (array-of-structs →
                    filter → explode), so N rules != N scans.
- ``operators``   — set-oriented rules that need more than a projection:
                    two-phase uniqueness, broadcast/sort-merge
                    referential joins, t-digest distribution drift, vectorized
                    audio decode/SNR (one mapInPandas pass), plus training-data-pipeline
                    operators (dedup, text analysis).
- ``engine``      — orchestrates a full validation run: violations DataFrame,
                    per-partition pass/fail verdicts, summary, checkpoint.
- ``datagen``     — deterministic, distributed synthetic clip-table generator
                    (seeded, SF-scalable, planted violations) per FIXTURES.md.
"""

__version__ = "0.1.0"
