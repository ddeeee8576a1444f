"""WebDataset tar-shard export: the write side of ``sources/tar.py``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tar_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    payloads: dict[str, str],
) -> DataFrame:
    """Export samples as WebDataset-style tar shards —
    ``<path>/shard-NNNNNN.tar`` each holding ``<key>.<suffix>`` members.

    The interchange format multimodal/audio training loaders stream
    (WebDataset / tarfile readers): one tar per shard, one file per sample
    payload, members of a sample adjacent, byte-identical across reruns
    (members are ordered by (shard, key) and stamped mtime=0).

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
    prepped = (
        df.select(*dict.fromkeys(["shard", key_col, *payloads]))
        .repartition(F.col("shard"))
        .sortWithinPartitions("shard", key_col)
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
