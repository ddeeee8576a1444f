"""WebDataset-style tar shard SOURCE — the import side of
``sinks.write_tar_shards``.

Training corpora for audio/multimodal models interchange as tar shards
(one tar per shard, ``<key>.<suffix>`` members, members of a sample
adjacent — the public WebDataset convention). This reads a directory of
shards back into a DataFrame with one row per sample and one column per
requested suffix.

Plan shape: a ``binaryFile`` scan lists and loads one row per shard file
(Spark never splits a binary file, so each shard parses in exactly one
task — the same one-shard-one-worker contract the sink's hash exchange
guarantees on write), then ONE ``mapInPandas`` stage parses members with
the stdlib ``tarfile`` and assembles samples in-task. Zero shuffle: sample
members are adjacent inside their shard, so regrouping never crosses
tasks. At 100 TB the parallelism is the shard count (standard WebDataset
sizing: thousands of ~1 GB shards), and the scan prunes to
``pathGlobFilter='*.tar'`` so stray files are never read.

Corrupt shards are error-as-data: an unreadable tar yields ONE row with
``status='corrupt_tar'`` and a NULL key instead of failing the job (the
engine-wide undecodable-payload convention). A single non-UTF-8 *member*
does NOT poison its shard: that sample's column stays NULL and the sample
row carries ``status='bad_member'``; every other sample in the shard still
parses (round-2 advisor fix).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


def read_tar_shards(spark: SparkSession, path: str, *, payloads: dict[str, str]) -> DataFrame:
    """Read ``<path>/*.tar`` WebDataset shards into one row per sample.

    ``payloads`` maps member suffix → output column (the inverse of the
    sink's column → suffix map), e.g. ``{"txt": "text", "wav": "bytes"}``.
    Every payload decodes as a utf-8 string (mirroring the sink, which
    utf-8-encodes non-binary columns). Members with unlisted suffixes are
    ignored; a sample missing a member keeps NULL in that column (the sink
    skips NULL payloads, so the round trip is exact).

    Member BASENAMES split at the FIRST dot (the public WebDataset
    key/suffix convention): ``key.seq.txt`` is key ``key`` with suffix
    ``seq.txt`` — register multi-dot suffixes in ``payloads`` explicitly.
    Keys include the member's directory path (``a/x.txt`` and ``b/x.txt``
    are distinct samples ``a/x`` and ``b/x``), so only the basename must
    be dot-free — the restriction the sink enforces on export. Dots in
    directory segments (``v1.0/clip``) round-trip fine.

    Output schema: ``shard_file`` (basename), ``key``, one column per
    payload, ``status`` (``ok`` | ``bad_member`` | ``corrupt_tar``).
    """
    if not payloads:
        raise ValueError("payloads must map at least one suffix to a column")
    cols = list(payloads.values())
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate output columns in payloads: {cols}")
    fields = ", ".join(f"`{col}` string" for col in cols)
    schema = f"shard_file string, key string, {fields}, status string"
    suffix_to_col = dict(payloads)

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
    )

    def _parse(batches: Iterator) -> Iterator:
        import io
        import os
        import tarfile

        import pandas as pd

        for pdf in batches:
            rows: list[dict] = []
            for rec in pdf.to_dict("records"):
                shard = os.path.basename(rec["path"])
                blank = {col: None for col in cols}
                try:
                    tf = tarfile.open(fileobj=io.BytesIO(bytes(rec["content"])))
                    samples: dict[str, dict] = {}
                    order: list[str] = []
                    bad: set[str] = set()
                    for m in tf:
                        # WebDataset keys include the directory path: a/x.txt
                        # and b/x.txt are DIFFERENT samples (keying on the
                        # basename alone silently merged them last-write-wins).
                        full = m.name
                        while full.startswith("./"):
                            full = full[2:]
                        base = os.path.basename(full)
                        if not m.isfile() or "." not in base:
                            continue
                        stem, sfx = base.split(".", 1)
                        dirpart = os.path.dirname(full)
                        key = f"{dirpart}/{stem}" if dirpart else stem
                        col = suffix_to_col.get(sfx)
                        if col is None:
                            continue
                        data = tf.extractfile(m).read()
                        if key not in samples:
                            samples[key] = dict(blank)
                            order.append(key)
                        try:
                            samples[key][col] = data.decode("utf-8")
                        except UnicodeDecodeError:
                            # error-as-data at SAMPLE grain: keep the
                            # shard's other samples, NULL this column.
                            bad.add(key)
                    rows.extend(
                        {"shard_file": shard, "key": k, **samples[k],
                         "status": "bad_member" if k in bad else "ok"}
                        for k in order
                    )
                except (tarfile.TarError, EOFError):
                    rows.append(
                        {"shard_file": shard, "key": None, **blank,
                         "status": "corrupt_tar"}
                    )
            yield pd.DataFrame(
                rows, columns=["shard_file", "key", *cols, "status"]
            )

    return scan.mapInPandas(_parse, schema=schema)
