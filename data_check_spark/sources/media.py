"""Raw media-file ingestion via Spark's ``binaryFile`` source.

Audio/image/video corpora arrive as object-store trees of opaque files;
``spark.read.format("binaryFile")`` is the distributed path from that tree
to a one-row-per-file payload table — the step before any mapInPandas
decode/feature stage runs. Reference analog: the aux
file loaders (dekispart.py:1178-1289) pull whole small files driver-side;
this is the executor-side equivalent for payloads that must never touch the
driver.

Scale contract:

* **One file = one row = one task.** ``binaryFile`` is non-splittable by
  nature (the payload is the unit), so ingestion parallelism equals file
  count — exactly right for media corpora (millions of clips), pathological
  for one giant tarball (unpack upstream instead).
* **Prune before read.** ``pathGlobFilter`` and partition-style directory
  layouts keep the listing small; filters on the source's ``length`` /
  ``modificationTime`` / ``path`` columns push into the file index, so
  "only clips under 10 MB changed since T" never opens the other files.
* **Oversize payloads are rejects, not crashes.** Files larger than
  ``max_bytes`` come back with a NULL payload and ``error='oversize'``
  (payload skipped via a pushed ``length`` filter then unioned back from
  the listing) — the error-as-data convention; a single 40 GB stray file
  must not OOM an executor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXT_TO_TYPE = {
    "jpg": "image", "jpeg": "image", "png": "image", "webp": "image",
    "wav": "audio", "flac": "audio", "mp3": "audio", "opus": "audio", "ogg": "audio",
    "mp4": "video", "mkv": "video", "webm": "video", "avi": "video",
}

DEFAULT_MAX_BYTES = 256 * 1024 * 1024  # one clip, not one shard


def _media_type_expr(ext_col) -> F.Column:
    mapping = F.create_map(
        *[F.lit(x) for kv in EXT_TO_TYPE.items() for x in kv]
    )
    return F.coalesce(mapping[ext_col], F.lit("unknown"))


def read_media_dir(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    max_bytes: int = DEFAULT_MAX_BYTES,
) -> DataFrame:
    """Directory of media files → one row per file.

    Columns: ``media_id`` (filename stem), ``media_type`` (by extension,
    'unknown' otherwise), ``payload`` (bytes; NULL when oversize),
    ``n_bytes``, ``error`` (NULL | 'oversize'), ``rel_dir`` (path under
    ``path`` — the partition handle), ``mod_time``.
    """
    # recursiveFileLookup: media trees nest by shard/speaker/date, not by
    # key=value partition dirs; rel_dir carries the layout instead.
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    base = os.path.abspath(path)
    listing = reader.load(path)

    name = F.element_at(F.split(F.col("path"), "/"), -1)
    stem = F.regexp_replace(name, r"\.[^.]*$", "")
    ext = F.lower(F.regexp_extract(name, r"\.([^.]*)$", 1))
    # Plain prefix arithmetic, not regex: ``base`` is user input and may
    # contain regex metacharacters.
    prefix = f"file:{base}/"
    rel_full = F.when(
        F.col("path").startswith(prefix),
        F.col("path").substr(F.lit(len(prefix) + 1), F.length("path")),
    ).otherwise(F.col("path"))
    rel = F.regexp_replace(rel_full, r"/?[^/]*$", "")

    def shape(df: DataFrame, payload, error) -> DataFrame:
        return df.select(
            stem.alias("media_id"),
            _media_type_expr(ext).alias("media_type"),
            payload.alias("payload"),
            F.col("length").cast("long").alias("n_bytes"),
            error.alias("error"),
            rel.alias("rel_dir"),
            F.col("modificationTime").alias("mod_time"),
        )

    # The length predicate pushes into the binaryFile index: oversize files
    # are never OPENED on the content path; their listing rows (content is
    # lazily loaded per-row, so selecting only metadata reads no payload)
    # come back as explicit rejects.
    ok = shape(
        listing.filter(F.col("length") <= max_bytes),
        F.col("content"), F.lit(None).cast("string"),
    )
    oversize = shape(
        listing.filter(F.col("length") > max_bytes),
        F.lit(None).cast("binary"), F.lit("oversize"),
    )
    return ok.unionByName(oversize)
