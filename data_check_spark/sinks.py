"""Production parquet write path: file sizing, partition layout, sort order.

The read side of this engine leans on three physical properties of the
input dataset; this module is where the WRITE side guarantees them for the
datasets we produce (curated corpora, violation archives, training shards):

1. **Bounded file count / no small files.** A naive
   ``df.write.partitionBy(k)`` emits one file per (task × live partition
   value) — at 100 TB with thousands of tasks and partitions that is
   millions of KB-sized files, and the NEXT job's scan planning chokes on
   listing them. Routing the data through ONE range exchange keyed by
   (partition cols + sort cols) sends each hive partition's rows to few,
   contiguous tasks.
2. **Bounded file size.** ``spark.sql.files.maxRecordsPerFile`` caps the
   other direction (a hot partition landing in one task writing one huge
   file): the writer rolls files at ``rows_per_file`` without another
   shuffle.
3. **Row-group pruning.** Sorting within partitions on the query columns
   gives every parquet row group a tight min/max footer range, so a
   predicate scan skips whole files/row groups (the static sibling of the
   engine's checkpoint-based partition pruning). Range exchange + local
   sort ≈ global clustering without a global sort's single-machine
   bottleneck.

Skew note: range partitioning splits a hot hive-partition across several
tasks (a hash ``repartition(partition_cols)`` would serialize it onto one),
at the cost of sampling the keys once — the same AQE-friendly trade the
engine makes elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_RECORDS_PER_FILE = 1_000_000


def write_dataset(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    rows_per_file: int = MAX_RECORDS_PER_FILE,
) -> None:
    """Write ``df`` as a partitioned, sorted, size-bounded parquet dataset.

    ``partition_by``: hive partition columns (directory layout — enables
    partition pruning downstream). ``sort_by``: clustering columns inside
    each file (enables row-group pruning). ``rows_per_file`` bounds file
    size; file COUNT is bounded by the session's shuffle parallelism via a
    plain range exchange.
    """
    if rows_per_file <= 0:
        raise ValueError(f"rows_per_file must be positive, got {rows_per_file}")
    parts = list(partition_by or [])
    keys = parts + list(sort_by or [])
    out = df
    if keys:
        # ONE range exchange: co-locates each hive partition into few
        # contiguous tasks AND pre-clusters rows for the local sort below.
        out = out.repartitionByRange(*keys).sortWithinPartitions(*keys)
    writer = out.write.mode("overwrite").option("maxRecordsPerFile", rows_per_file)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def dataset_checksum(df: DataFrame, *, group_by: list[str] | None = None) -> DataFrame:
    """Order-insensitive content checksum: per group (or one TOTAL row),
    row count + the decimal sum of per-row ``xxhash64`` over every column.

    Sum (not xor) so duplicate rows don't cancel pairwise; the sum runs in
    the decimal(38,0) lane, which holds 10^12 rows × 2^63 without overflow
    (Spark 4 ANSI would throw on a bigint sum overflow — decimals don't).
    Hashing casts nothing: ``xxhash64(*cols)`` consumes the native column
    bytes JVM-side, so the checksum is sensitive to values AND types.
    """
    keys = list(group_by or [])
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").alias("checksum"),
    ]
    if keys:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def verify_dataset(
    spark,
    path: str,
    expected: DataFrame,
    *,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Post-write audit: read the dataset back and compare per-hive-partition
    row counts and order-insensitive content checksums against the frame
    that was (supposed to be) written — the write-ack a 100-TB pipeline
    requires before it deletes upstream state or publishes the dataset.

    Returns one row per hive partition (plus a single TOTAL row when the
    dataset isn't partitioned): (partition values…, expected_rows,
    actual_rows, checksum_match, passed). A lost task output, a partial
    overwrite, or a reader/writer type mismatch all surface as a failed row.

    Cost: ONE column-complete scan of each side (the checksum must touch
    every value — cheaper verification (footer row counts only) catches
    lost files but not corrupted values; get that by selecting just
    ``passed`` on a count-only variant via ``dataset_checksum(df, ...)``
    yourself). Both aggregates are map-side partial; the shuffle carries
    one row per hive partition.
    """
    keys = list(partition_by or [])
    actual = spark.read.parquet(path)
    # Align column order AND types: hive partition columns come back LAST
    # and type-INFERRED on read (a string "0" directory value reads back as
    # int), and xxhash64 is positional and type-sensitive. Casting to the
    # expected schema removes the read-side artifacts while keeping real
    # value corruption visible (an uncastable value nulls out and fails the
    # checksum).
    exp_types = dict(expected.dtypes)
    actual = actual.select(
        *[F.col(c).cast(exp_types[c]).alias(c) for c in expected.columns]
    )
    exp = dataset_checksum(expected, group_by=keys).withColumnsRenamed(
        {"n_rows": "expected_rows", "checksum": "expected_checksum"}
    )
    act = dataset_checksum(actual, group_by=keys).withColumnsRenamed(
        {"n_rows": "actual_rows", "checksum": "actual_checksum"}
    )
    joined = (
        exp.join(act, on=keys, how="full_outer")
        if keys
        else exp.crossJoin(act)
    )
    report = joined.select(
        *keys,
        F.coalesce("expected_rows", F.lit(0)).alias("expected_rows"),
        F.coalesce("actual_rows", F.lit(0)).alias("actual_rows"),
        (
            F.coalesce("expected_checksum", F.lit(0).cast("decimal(38,0)"))
            == F.coalesce("actual_checksum", F.lit(0).cast("decimal(38,0)"))
        ).alias("checksum_match"),
    )
    return report.withColumn(
        "passed",
        (F.col("expected_rows") == F.col("actual_rows")) & F.col("checksum_match"),
    )


def write_tar_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    payloads: dict[str, str],
    order_col: str | None = None,
) -> DataFrame:
    """Export samples as WebDataset-style tar shards —
    ``<path>/shard-NNNNNN.tar`` each holding ``<key>.<suffix>`` members.

    The interchange format multimodal/audio training loaders stream
    (WebDataset / tarfile readers): one tar per shard, one file per sample
    payload, members of a sample adjacent, byte-identical across reruns
    (members are ordered by (shard, order_col or key) and stamped mtime=0).

    ``payloads`` maps column → member suffix, e.g. ``{"text": "txt",
    "bytes": "wav"}``; binary columns pass through, anything else is
    utf-8-encoded. NULL payloads are skipped (a sample with every payload
    NULL still appears in ``n_samples`` of its shard's report row).

    Plan shape: ONE hash exchange on ``shard`` guarantees each shard's
    rows land in exactly one task (a shard never splits across writers);
    a task writes each of its shards to ``.tmp`` and atomically renames, so
    a retried task can't leave a torn tar. Returns the lazily-evaluated
    report frame (shard, n_samples, n_bytes, file) — the caller's action on
    it drives the export. Local/POSIX filesystems only (rename-commit);
    object stores need a committer, like every direct-file sink.
    """
    if not payloads:
        raise ValueError("payloads must map at least one column to a suffix")
    import os as _os

    _os.makedirs(path, exist_ok=True)
    cols = ["shard", key_col, *payloads]
    sort_cols = ["shard", order_col or key_col]
    prepped = (
        df.select(*dict.fromkeys(cols + ([order_col] if order_col else [])))
        .repartition(F.col("shard"))
        .sortWithinPartitions(*sort_cols)
    )

    def _write(batches):
        import io
        import tarfile

        import pandas as pd

        state = {"shard": None, "tf": None, "tmp": None, "final": None,
                 "n": 0, "bytes": 0}
        out = []

        def _close():
            if state["tf"] is not None:
                state["tf"].close()
                _os.replace(state["tmp"], state["final"])
                out.append((state["shard"], state["n"], state["bytes"],
                            _os.path.basename(state["final"])))
                state["tf"] = None

        for pdf in batches:
            # to_dict (not itertuples): itertuples positionally renames
            # underscore-prefixed column names, silently breaking lookups
            for rd in pdf.to_dict("records"):
                key = rd[key_col]
                if key is not None and str(key).startswith("./"):
                    # the reader strips leading './' from member names, so
                    # such a key would silently come back changed — reject
                    # rather than break the read-back identity audit.
                    raise ValueError(
                        f"tar sample key {key!r} starts with './' — it "
                        "would not round-trip through the reader's "
                        "leading-'./' normalization"
                    )
                if key is not None and "." in str(key).rsplit("/", 1)[-1]:
                    # WebDataset splits the BASENAME at its first dot, so a
                    # dot there writes members no conforming reader (incl.
                    # sources/tar.py) can reassemble — fail loud at export
                    # instead of shipping an ambiguous shard. Dots in
                    # directory segments (v1.0/clip) are fine: readers key
                    # on the full path and split only the basename.
                    raise ValueError(
                        f"tar sample key {key!r} has '.' in its basename — "
                        "WebDataset splits the basename at the first dot, "
                        "so that segment must be dot-free"
                    )
                s = int(rd["shard"])
                if state["tf"] is None or s != state["shard"]:
                    _close()
                    final = _os.path.join(path, f"shard-{s:06d}.tar")
                    state.update(shard=s, final=final, tmp=final + ".tmp",
                                 n=0, bytes=0)
                    state["tf"] = tarfile.open(state["tmp"], "w")
                for col, suffix in payloads.items():
                    data = rd[col]
                    if data is None or (isinstance(data, float) and pd.isna(data)):
                        continue
                    b = bytes(data) if isinstance(data, (bytes, bytearray)) else str(data).encode("utf-8")
                    info = tarfile.TarInfo(f"{rd[key_col]}.{suffix}")
                    info.size = len(b)
                    info.mtime = 0
                    state["tf"].addfile(info, io.BytesIO(b))
                    state["bytes"] += len(b)
                state["n"] += 1
        _close()
        yield pd.DataFrame(out, columns=["shard", "n_samples", "n_bytes", "file"])

    return prepped.mapInPandas(
        _write, "shard long, n_samples long, n_bytes long, file string"
    )
