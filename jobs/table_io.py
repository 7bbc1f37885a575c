"""Iceberg-shaped table IO over Parquet part-files (SURVEY.md §7.5).

No Iceberg runtime jar exists in this sandbox, so this module gives the
pipeline an Iceberg-like contract — append-commit with a manifest,
snapshot listing, resumable re-runs — backed by a Parquet directory:

    <table>/data/part-<part_id>.parquet  (one file per part: block rows)
    <table>/_manifest/commit-<k>.json    (one JSON per committed part set)

The table is the files its committed parts list (:func:`part_files`),
not the directory: each encode task publishes its own part's file
(:func:`write_part`) and the driver commits the parts, each carrying
its ``file``. A file's name is a pure function of its part id, so a
re-encoded or retried part atomically overwrites its own file, and a
file a crashed run left without committing is never listed.

Swapping to a real Iceberg catalog is the one-line change
``spark.read.parquet(files) -> spark.read.table(name)`` plus using
Iceberg's own snapshot/manifest in place of :func:`committed_parts` /
:func:`commit`. Commits here are atomic at file granularity (JSON
rename), which is the same guarantee level a manifest append gives.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from engine._util import publish


def _require_local(path: str) -> str:
    """This manifest backend walks the table path with ``os`` — correct
    only for driver-visible POSIX paths. On hdfs://, s3://, etc.,
    ``os.path.isdir`` is silently False, which would make resume
    probes no-op and corrupt commit stats; fail loudly instead
    (an Iceberg catalog or Hadoop-FS-backed manifest is the swap-in)."""
    scheme, sep, rest = path.partition("://")
    if sep and scheme != "file":
        raise ValueError(
            f"table_io requires a driver-local path, got {path!r}; back "
            "the manifest with the Hadoop FS API or an Iceberg catalog "
            "for remote filesystems")
    return rest if sep else path


def _manifest_dir(path: str) -> str:
    return os.path.join(_require_local(path), "_manifest")


def data_dir(path: str) -> str:
    return os.path.join(_require_local(path), "data")


# the block-level filters of jobs/decode.py push into the scan on these
# columns, and parquet row-group skipping needs their min/max; on the
# binary stream columns statistics would only bloat the footers
STATS_COLUMNS = ["part_id", "block_id", "n_rows", "n_values",
                 "tokens.vmin", "tokens.vmax", "ntok.vmin", "ntok.vmax"]


def part_file(part_id: int) -> str:
    """Part ``part_id``'s file, relative to the table root."""
    return os.path.join("data", f"part-{part_id:05d}.parquet")


def write_part(path: str, part_id: int, batches) -> str | None:
    """Stream blocks-table ``batches`` into part ``part_id``'s file
    through one ParquetWriter; returns the file (:func:`part_file`), or
    None when there were no batches and nothing was written.

    The block payloads are already codec-wrapped, so the file is
    uncompressed and without dictionary pages. The file publishes
    through engine._util.publish: speculative or retried attempts of
    one part never interleave, the last one wins atomically, and a
    failed attempt leaves no partial.
    """
    import pyarrow.parquet as pq
    batches = iter(batches)
    first = next(batches, None)
    if first is None:
        return None
    file = part_file(part_id)
    dst = os.path.join(_require_local(path), file)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    with publish(dst) as tmp, pq.ParquetWriter(
            tmp, first.schema, compression="none", use_dictionary=False,
            write_statistics=STATS_COLUMNS) as writer:
        writer.write_batch(first)
        for batch in batches:
            writer.write_batch(batch)
    return file


def committed_parts(path: str) -> dict[int, dict]:
    """part_id -> lineage summary for every committed input partition
    (a later commit of a part wins)."""
    out: dict[int, dict] = {}
    for name in commits(path):
        with open(os.path.join(_manifest_dir(path), name)) as f:
            for p in json.load(f)["parts"]:
                out[int(p["part_id"])] = p
    return out


def commit(path: str, parts: list[dict], snapshot_meta: dict | None = None
           ) -> str:
    """Append a commit entry recording finished input partitions.

    ``parts``: [{part_id, file, n_rows, n_values, n_blocks, out_bytes,
    in_bytes, wall_ms}, ...]. Atomic: publishes through
    engine._util.publish.
    """
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    entry = {
        "ts": time.time(),
        "snapshot": snapshot_meta or {},
        "parts": parts,
    }
    name = f"commit-{int(time.time() * 1e3)}-{uuid.uuid4().hex[:8]}.json"
    with publish(os.path.join(mdir, name)) as tmp, open(tmp, "w") as f:
        json.dump(entry, f)
    return name


def part_files(path: str) -> list[str]:
    """The table's data: the files its committed parts list, in part
    order. Files nothing committed (a crashed run's, a stale temp) are
    not part of the table."""
    root = _require_local(path)
    parts = committed_parts(path)
    legacy = [k for k, p in parts.items() if "file" not in p]
    if legacy:
        raise ValueError(
            f"{path!r}: committed parts {legacy[:3]} list no file; the "
            "table was written by an earlier engine revision — "
            "re-encode it")
    return [os.path.join(root, parts[k]["file"]) for k in sorted(parts)]


def commits(path: str) -> list[str]:
    """Commit file names, oldest first."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    return sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
