"""JSONL (newline-delimited JSON) corpus source.

JSONL is the de-facto interchange format for LLM training corpora; this is
the ingestion seam a 100-TB text pipeline actually reads through. The
reference's file sources (CSV with encoding fallback, Excel keyword sheets
— common.py:134-171, dekispart.py:1178-1289) carry the same defensive
posture this module ports to JSONL: a malformed input line is DATA to be
counted and quarantined, never an exception that kills the job
(dekispart.py:1151-1157's error-as-violation convention).

Scale contract (the reasons behind each default):

* **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a full extra pass over the input just to infer types — at
  100 TB that doubles the scan. Callers pass the schema; this module only
  appends the corrupt-record column.
* **``multiLine`` stays false.** Line-delimited JSON is splittable — every
  HDFS/S3 block becomes an independent task. ``multiLine=true`` JSON is
  one-file-one-task and must never be the corpus path.
* **PERMISSIVE + corrupt-record column.** A bad line lands raw in
  ``corrupt_col`` with every schema field NULL; clean lines carry NULL
  there, so one filter on it routes the two classes without a second read.
  (FAILFAST would kill a 1000-executor job on one bad byte;
  DROPMALFORMED silently loses data — both wrong for curation, where the
  reject stream is itself an input to quality monitoring.)
* **``text`` + ``from_json``, not the native JSON datasource.** Same JVM
  parser, same PERMISSIVE semantics, but the raw line stays a real column:
  the native source disallows any plan that reads only the corrupt-record
  column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which is
  exactly what a reject-stream writer does.
* **Required-column refusal:** a corpus file missing a contracted field
  raises :class:`MissingColumnsError` up front rather than producing
  all-NULL columns downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_CORRUPT_COL = "_corrupt_record"


class MissingColumnsError(ValueError):
    def __init__(self, path: str, missing: list[str]):
        self.missing = missing
        super().__init__(f"{path}: missing required columns {missing}")


def _resolve_schema(
    path: str,
    schema: T.StructType | str,
    required_columns: list[str] | None,
    corrupt_col: str,
) -> T.StructType:
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if required_columns:
        missing = [c for c in required_columns if c not in schema.fieldNames()]
        if missing:
            raise MissingColumnsError(path, missing)
    return T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    *,
    required_columns: list[str] | None = None,
) -> DataFrame:
    """One distributed, splittable read of a JSONL dataset.

    Returns the caller's schema plus ``DEFAULT_CORRUPT_COL`` (string): NULL for
    clean rows, the raw offending line for malformed ones. Whitespace-only
    lines are skipped (the native JSON source's behavior).
    """
    full = _resolve_schema(path, schema, required_columns, DEFAULT_CORRUPT_COL)
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(
            F.from_json(
                "value",
                full,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": DEFAULT_CORRUPT_COL},
            ).alias("_j")
        )
        .select("_j.*")
    )
