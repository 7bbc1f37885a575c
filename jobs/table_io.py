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
    uncompressed and without dictionary pages. The write goes to a
    hidden, attempt-unique temp file and publishes with ``os.replace``:
    speculative or retried attempts of one part never interleave, the
    last one wins atomically, and a failed attempt leaves no partial.
    """
    import pyarrow.parquet as pq
    file = part_file(part_id)
    dst = os.path.join(_require_local(path), file)
    ddir, base = os.path.split(dst)
    os.makedirs(ddir, exist_ok=True)
    tmp = os.path.join(ddir, f".{base}.{uuid.uuid4().hex}.tmp")
    writer = None
    try:
        for batch in batches:
            if writer is None:
                writer = pq.ParquetWriter(
                    tmp, batch.schema, compression="none",
                    use_dictionary=False, write_statistics=STATS_COLUMNS)
            writer.write_batch(batch)
        if writer is None:
            return None
        writer.close()
        os.replace(tmp, dst)
    finally:
        if writer is not None:
            writer.close()
        if os.path.exists(tmp):
            os.unlink(tmp)
    return file


def committed_parts(path: str) -> dict[int, dict]:
    """part_id -> lineage summary for every committed input partition."""
    mdir = _manifest_dir(path)
    out: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as f:
            entry = json.load(f)
        for p in entry["parts"]:
            out[int(p["part_id"])] = p
    return out


def commit(path: str, parts: list[dict], snapshot_meta: dict | None = None
           ) -> str:
    """Append a commit entry recording finished input partitions.

    ``parts``: [{part_id, file, n_rows, n_values, n_blocks, out_bytes,
    in_bytes, wall_ms}, ...]. Atomic via write-to-temp + rename.
    """
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    entry = {
        "ts": time.time(),
        "snapshot": snapshot_meta or {},
        "parts": parts,
    }
    name = f"commit-{int(time.time() * 1e3)}-{uuid.uuid4().hex[:8]}.json"
    tmp = os.path.join(mdir, "." + name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(entry, f)
    os.replace(tmp, os.path.join(mdir, name))
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


def snapshot_id(path: str) -> str:
    """Deterministic id of the current committed state."""
    parts = committed_parts(path)
    return f"{len(parts)}:{sum(p.get('n_rows', 0) for p in parts.values())}"


def commits(path: str) -> list[str]:
    """Commit file names, oldest first."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    return sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
