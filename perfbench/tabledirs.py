"""File, manifest and byte counts read from table directories from outside.

Only the public on-disk formats are read (Delta's ``_delta_log`` JSON,
Iceberg's metadata JSON and manifest-list Avro), never engine state.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq


def data_files(root: str) -> dict[str, int]:
    """Every parquet file under ``root`` (outside log/metadata) -> bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in ("_delta_log", "metadata")]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def added(before: dict[str, int], after: dict[str, int]) -> tuple[int, int, int]:
    """``(files, bytes, rows)`` of the parquet files new in ``after``."""
    new = [p for p in after if p not in before]
    rows = sum(pq.read_metadata(p).num_rows for p in new)
    return len(new), sum(after[p] for p in new), rows


def delta_live_files(table: str) -> int:
    """Files in the latest snapshot: adds minus removes over the JSON log."""
    live: set[str] = set()
    log = os.path.join(table, "_delta_log")
    versions = sorted(
        int(f[:-5]) for f in os.listdir(log) if f.endswith(".json") and f[:-5].isdigit()
    )
    for v in versions:
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live.add(a["add"]["path"])
                elif "remove" in a:
                    live.discard(a["remove"]["path"])
    return len(live)


def iceberg_live_manifests(table: str) -> int:
    """Manifests named by the current snapshot's manifest list."""
    from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

    def vnum(p: str) -> int:
        stem = os.path.basename(p).split(".")[0].lstrip("v")
        return int(stem) if stem.isdigit() else -1

    metas = glob.glob(os.path.join(table, "metadata", "*.metadata.json"))
    with open(max(metas, key=vnum)) as fh:
        meta = json.load(fh)
    sid = meta.get("current-snapshot-id")
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    path = snap["manifest-list"]
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    if not os.path.isabs(path):
        path = os.path.join(table, path)
    return len(read_ocf(path)[1])
