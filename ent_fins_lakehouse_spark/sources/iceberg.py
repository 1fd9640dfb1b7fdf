"""Read-only Apache Iceberg table interop.

Named in the driver brief ("Spark SQL + Delta/Iceberg") — the Iceberg
analogue of :class:`sources.lakehouse.DeltaLogTable`, built from the
public table spec (iceberg.apache.org/spec, format versions 1 and 2):

- ``metadata/v<N>.metadata.json`` (discovered via ``version-hint.text``
  or the highest version present) holds the schema, snapshot list and
  current snapshot id;
- each snapshot names a **manifest list** (Avro) whose rows point at
  **manifests** (Avro); manifest entries carry ``data_file`` records
  with the parquet path, content kind and liveness ``status``;
- data files for identity-partitioned/unpartitioned tables are plain
  parquet readable by Spark directly (Iceberg parquet retains
  partition columns, unlike hive layouts — no value re-attachment
  needed).

Avro decoding is the in-repo pure-Python OCF reader
(:mod:`sources.avro_io`) since neither spark-avro nor an avro package
ships in this environment.

v2 row-level deletes are applied as fully distributed anti-joins (no
driver materialization, so delete files can be arbitrarily large):

- **position deletes**: data files scanned with
  ``_metadata.file_path`` / ``_metadata.row_index``, anti-joined
  against the (file_path, pos) pairs;
- **equality deletes**: sequence-number semantics per the spec — a
  delete file at sequence S masks rows only in data files with
  sequence STRICTLY below S, matching null-safely on the columns
  named by its ``equality_ids`` (field ids resolved through the
  schema's id→name map).

Refused loudly rather than read wrongly: schema evolution via
field-id remapping (columns are resolved by name; a renamed column
would need the id mapping). Time travel via ``snapshot_id`` replays
any listed snapshot.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ent_fins_lakehouse_spark.sources.avro_io import read_ocf
from ent_fins_lakehouse_spark.sources.lakehouse import footer_stats, publish_exclusive

_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


#: struct format of the Iceberg single-value bound per primitive type
#: (spec 'Binary single-value serialization'); other types carry none
_BOUND_FMT = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def _footer_bounds(path: str, ids: dict, itypes: dict) -> tuple[int, list, list]:
    """Record count plus lower/upper bound key-value lists of one
    parquet data file, read from its footer (:func:`footer_stats`).
    Only int, long, float and double columns get bounds: string
    footers may truncate."""
    import struct

    import pyarrow.parquet as pq

    num_rows, _, mins, maxs = footer_stats(pq.ParquetFile(path).metadata)
    bounded = [n for n in mins if itypes.get(n) in _BOUND_FMT]

    def kv(vals: dict) -> list[dict]:
        return [
            {"key": ids[n], "value": struct.pack(_BOUND_FMT[itypes[n]], vals[n])}
            for n in bounded
        ]

    return num_rows, kv(mins), kv(maxs)


def _iceberg_type(t) -> T.DataType:
    """Iceberg JSON schema type → Spark type (spec: 'Schemas and Data
    Types')."""
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise NotImplementedError(f"iceberg type {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _iceberg_type(f["type"]), not f["required"])
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_iceberg_type(t["element"]), not t["element-required"])
    if kind == "map":
        return T.MapType(
            _iceberg_type(t["key"]), _iceberg_type(t["value"]), not t["value-required"]
        )
    raise NotImplementedError(f"iceberg type {t!r}")


def _decode_bound(ftype: str, b) -> object | None:
    """Iceberg single-value serialization (spec: 'Binary single-value
    serialization') for the bound types predicate pruning can use:
    little-endian int/long/float/double, UTF-8 string. Anything else
    (or a malformed payload) returns None — the file just isn't
    pruned, which is always sound."""
    import struct as _s

    if b is None:
        return None
    if isinstance(b, str):
        b = b.encode("latin-1")  # avro readers may surface bytes as str
    try:
        # after type PROMOTION (spec: 'Schema Evolution') bounds written
        # under the old narrow type remain in manifests — dispatch on
        # payload width so int-width bounds decode under a long column
        # and float-width under a double column
        if ftype == "int":
            return _s.unpack("<i", b)[0]
        if ftype == "long":
            return _s.unpack("<i" if len(b) == 4 else "<q", b)[0]
        if ftype == "float":
            return _s.unpack("<f", b)[0]
        if ftype == "double":
            return _s.unpack("<f" if len(b) == 4 else "<d", b)[0]
        if ftype == "string":
            return b.decode("utf-8")
    except (ValueError, UnicodeDecodeError, _s.error):
        return None
    return None


def _entry_bounds(df_rec: dict, names: dict, ftypes: dict) -> dict:
    """``{col: [lo, hi]}`` from a manifest entry's ``lower_bounds`` /
    ``upper_bounds`` (field-id-keyed byte maps — Avro surfaces them as
    either a dict or a list of key/value records)."""

    def as_map(x) -> dict:
        if isinstance(x, dict):
            return {int(k): v for k, v in x.items()}
        return {int(kv["key"]): kv["value"] for kv in x}

    lo_raw = df_rec.get("lower_bounds")
    hi_raw = df_rec.get("upper_bounds")
    if not lo_raw or not hi_raw:
        return {}
    lo_m, hi_m = as_map(lo_raw), as_map(hi_raw)
    out: dict[str, list] = {}
    for fid, lob in lo_m.items():
        nm, t = names.get(fid), ftypes.get(fid)
        if nm is None or t is None or fid not in hi_m:
            continue
        lo, hi = _decode_bound(t, lob), _decode_bound(t, hi_m[fid])
        if lo is not None and hi is not None:
            out[nm] = [lo, hi]
    return out


def _murmur3_bucket_np(vals, n: int):
    """Iceberg ``bucket[n]`` transform over int/long values, vectorized:
    murmur3_x86_32 (seed 0) of the value serialized as an 8-byte
    little-endian long (spec: 'Bucket Transform Details' — int is
    upcast so bucket(int x) == bucket(long x)), then
    ``(hash & Integer.MAX_VALUE) % n``. Bit-exact vs the reference
    implementation (hash(34L) = 2017239379, asserted in tests)."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    k2 = (v >> np.uint64(32)).astype(np.uint32)
    h = np.zeros(len(v), dtype=np.uint32)
    with np.errstate(over="ignore"):
        for k in (k1, k2):
            k = k * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)  # input length in bytes
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
    return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int32)


def _murmur3_bucket_bytes_np(vals, n: int):
    """Iceberg ``bucket[n]`` over string/binary values, vectorized:
    murmur3_x86_32 (seed 0) of the raw UTF-8 bytes (spec: 'Bucket
    Transform Details' — strings hash their UTF-8 encoding with NO
    length prefix or padding), then ``(hash & Integer.MAX_VALUE) % n``.
    Bit-exact vs the spec's Appendix B test vector
    (hash("iceberg") = 1210000089, asserted in tests).

    Variable lengths vectorize by grouping the batch on byte length —
    each group is a dense (m, L) uint8 matrix processed 4 bytes per
    step, so a batch of uniform-length keys (uuid/doc_id serving keys,
    the common shape) runs as ONE numpy pass."""
    import numpy as np

    arrs = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in vals
    ]
    out = np.empty(len(arrs), dtype=np.int32)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    by_len: dict[int, list[int]] = {}
    for i, b in enumerate(arrs):
        by_len.setdefault(len(b), []).append(i)
    for L, idxs in by_len.items():
        mat = np.frombuffer(
            b"".join(arrs[i] for i in idxs), dtype=np.uint8
        ).reshape(len(idxs), L) if L else np.zeros((len(idxs), 0), dtype=np.uint8)
        m = mat.shape[0]
        h = np.zeros(m, dtype=np.uint32)
        with np.errstate(over="ignore"):
            for blk in range(L // 4):
                cols = mat[:, blk * 4 : blk * 4 + 4].astype(np.uint32)
                k = (
                    cols[:, 0]
                    | (cols[:, 1] << np.uint32(8))
                    | (cols[:, 2] << np.uint32(16))
                    | (cols[:, 3] << np.uint32(24))
                )
                k = k * c1
                k = (k << np.uint32(15)) | (k >> np.uint32(17))
                k = k * c2
                h = h ^ k
                h = (h << np.uint32(13)) | (h >> np.uint32(19))
                h = h * np.uint32(5) + np.uint32(0xE6546B64)
            tail = L & 3
            if tail:
                k1 = np.zeros(m, dtype=np.uint32)
                for j in range(tail - 1, -1, -1):
                    k1 = (k1 << np.uint32(8)) | mat[:, (L // 4) * 4 + j].astype(
                        np.uint32
                    )
                k1 = k1 * c1
                k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
                k1 = k1 * c2
                h = h ^ k1
            h = h ^ np.uint32(L)
            h = h ^ (h >> np.uint32(16))
            h = h * np.uint32(0x85EBCA6B)
            h = h ^ (h >> np.uint32(13))
            h = h * np.uint32(0xC2B2AE35)
            h = h ^ (h >> np.uint32(16))
        out[idxs] = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int32)
    return out


def _bucket_value(v, n: int) -> int:
    """Driver-side single-value bucket (for predicate rewriting)."""
    if isinstance(v, (str, bytes)):
        return int(_murmur3_bucket_bytes_np([v], n)[0])
    return int(_murmur3_bucket_np([int(v)], n)[0])


def _bucket_udf(n: int, kind: str = "int"):
    """Vectorized Arrow-batched bucket transform for the write path
    (Pandas UDF — numpy murmur3 over int64 or UTF-8-byte batches).
    ``kind`` comes from the DECLARED source type ('int' or 'str'), not
    the batch dtype. Int sources arrive CAST TO STRING (see the call
    site): an int64 Arrow batch containing a NULL converts to pandas
    float64, and float64 cannot represent longs above 2^53 — hashing
    through it would compute a silently WRONG bucket for large keys
    (snowflake-id range); the string round-trip is exact for the full
    int64 domain. Nulls map to the null partition per the spec."""
    import pandas as pd

    # no type annotations: `from __future__ import annotations` turns
    # them into strings, which pandas_udf's signature inference rejects
    def f(s):
        out = pd.Series([pd.NA] * len(s), dtype="Int32")
        mask = s.notna()
        if mask.any():
            vals = s[mask]
            if kind == "int":
                # string -> int64 is exact; float64 would round >2^53
                out[mask] = _murmur3_bucket_np(
                    vals.astype("int64").to_numpy(), n
                )
            else:
                out[mask] = _murmur3_bucket_bytes_np(vals.tolist(), n)
        return out

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(f, "int")


_BUCKET_SPEC = re.compile(r"^\s*bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", re.IGNORECASE)
_BUCKET_TRANSFORM = re.compile(r"^bucket\[(\d+)\]$")
_TRUNC_SPEC = re.compile(r"^\s*truncate\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", re.IGNORECASE)
_TRUNC_TRANSFORM = re.compile(r"^truncate\[(\d+)\]$")
_DAY_SPEC = re.compile(r"^\s*day\s*\(\s*(\w+)\s*\)\s*$", re.IGNORECASE)
_MONTH_SPEC = re.compile(r"^\s*month\s*\(\s*(\w+)\s*\)\s*$", re.IGNORECASE)
_YEAR_SPEC = re.compile(r"^\s*year\s*\(\s*(\w+)\s*\)\s*$", re.IGNORECASE)
_HOUR_SPEC = re.compile(r"^\s*hour\s*\(\s*(\w+)\s*\)\s*$", re.IGNORECASE)


def _write_version_hint(meta_dir: str, version: int | str) -> None:
    """Atomically publish ``version-hint.text`` (tmp + rename). The
    hint is advisory — :meth:`IcebergTable._metadata_file` probes
    upward from it — but atomic publication keeps a concurrent reader
    from ever seeing a torn value, and the rename is the same
    last-writer-wins the hint's semantics already assume."""
    import uuid as _uuid

    tmp = os.path.join(meta_dir, f".version-hint.{_uuid.uuid4().hex}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(meta_dir, "version-hint.text"))


def _canonical_spec(pf: dict, names: dict[int, str]) -> str:
    """Canonical partition_by string for a spec field (identity →
    column name; bucket[n] → ``bucket(n, col)``; truncate[w] →
    ``truncate(w, col)``)."""
    col = names[pf["source-id"]]
    m = _BUCKET_TRANSFORM.match(pf.get("transform") or "")
    if m:
        return f"bucket({m.group(1)}, {col})"
    m = _TRUNC_TRANSFORM.match(pf.get("transform") or "")
    if m:
        return f"truncate({m.group(1)}, {col})"
    if (pf.get("transform") or "") in ("hour", "day", "month", "year"):
        return f"{pf['transform']}({col})"
    return col


#: v3 row-lineage metadata columns → reserved field ids (spec
#: 'Reserved Field IDs': _row_id = 2147483540,
#: _last_updated_sequence_number = 2147483539). Stamped as parquet
#: field ids when a rewrite MATERIALIZES lineage into data files.
ROW_LINEAGE_COLS: dict[str, int] = {
    "_row_id": 2147483540,
    "_last_updated_sequence_number": 2147483539,
}


class IcebergTable:
    """Read-only snapshot reads over an Iceberg v1/v2 table directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")

    def exists(self) -> bool:
        return os.path.isdir(self.meta_dir)

    # ---------------------------------------------------------- metadata

    def _metadata_file(self) -> str:
        """Newest table metadata. Both public layouts: HadoopTables'
        ``v<N>.metadata.json`` (+ optional ``version-hint.text``), and
        catalog-managed ``<seq>-<uuid>.metadata.json`` (e.g.
        ``00003-….metadata.json``) ordered by the sequence prefix."""
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.isfile(hint):
            with open(hint, encoding="utf-8") as fh:
                v = fh.read().strip()
            cand = os.path.join(self.meta_dir, f"v{v}.metadata.json")
            if os.path.isfile(cand) and v.isdigit():
                # the hint is a HINT, not the truth: two racing writers'
                # hint writes are unordered, so a stale value can point
                # BELOW the newest commit — trusting it would hide the
                # race winner's snapshot and wedge every later commit
                # (its O_EXCL target already exists). Probe upward like
                # Java Iceberg's HadoopTableOperations: O(commits since
                # the hint) stat calls, no directory listing.
                n = int(v)
                while os.path.isfile(
                    os.path.join(self.meta_dir, f"v{n + 1}.metadata.json")
                ):
                    n += 1
                return os.path.join(self.meta_dir, f"v{n}.metadata.json")
        versions = []
        for f in os.listdir(self.meta_dir):
            if not f.endswith(".metadata.json"):
                continue
            stem = f[: -len(".metadata.json")]
            if stem.startswith("v") and stem[1:].isdigit():
                versions.append((int(stem[1:]), f))
            elif stem.split("-", 1)[0].isdigit():
                versions.append((int(stem.split("-", 1)[0]), f))
        if not versions:
            raise ValueError(f"no Iceberg metadata under {self.meta_dir}")
        return os.path.join(self.meta_dir, max(versions)[1])

    def metadata(self) -> dict:
        with open(self._metadata_file(), encoding="utf-8") as fh:
            return json.load(fh)

    def _ice_schema(self, meta: dict | None = None) -> dict:
        meta = meta or self.metadata()
        if "schemas" in meta:  # v2: list keyed by current-schema-id
            sid = meta["current-schema-id"]
            return next(s for s in meta["schemas"] if s["schema-id"] == sid)
        return meta["schema"]  # v1: single inline schema

    def schema(self, meta: dict | None = None) -> T.StructType:
        return _iceberg_type({**self._ice_schema(meta), "type": "struct"})

    def field_names_by_id(self, meta: dict | None = None) -> dict[int, str]:
        """Top-level field-id → column name (equality_ids resolution)."""
        return {f["id"]: f["name"] for f in self._ice_schema(meta)["fields"]}

    def snapshots(self) -> list[dict]:
        return list(self.metadata().get("snapshots") or [])

    def partition_fields(self, meta: dict | None = None) -> list[dict]:
        """Default partition-spec fields as
        ``[{"name", "transform", "source-id", "field-id"}, …]``
        (spec: 'Partition Specs'). Empty for unpartitioned tables."""
        meta = meta or self.metadata()
        spec_id = meta.get("default-spec-id", 0)
        for spec in meta.get("partition-specs") or []:
            if spec.get("spec-id") == spec_id:
                return list(spec.get("fields") or [])
        return []

    def _resolve(self, p: str) -> str:
        """Spec paths are absolute location-rooted URIs; tolerate
        file: prefixes and relative fixture paths."""
        if p.startswith("file:"):
            p = p[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
        return p if os.path.isabs(p) else os.path.join(self.path, p)

    # -------------------------------------------------------------- read

    def _files(self, snapshot_id: int | None = None):
        """Resolve a snapshot to ``(data, pos_deletes, eq_deletes)`` —
        the 3-tuple every non-DV-aware call site unpacks; v3 deletion
        vectors ride separately via :meth:`_dv_entries` /
        :meth:`_files_full`."""
        data, pos_deletes, eq_deletes, _ = self._files_full(snapshot_id)
        return data, pos_deletes, eq_deletes

    def _dv_entries(self, snapshot_id: int | None = None):
        """v3 deletion-vector entries of a snapshot:
        ``[(blob_path, offset, length, referenced_data_file, rows)]``."""
        return self._files_full(snapshot_id)[3]

    @staticmethod
    def _dv_blob_positions(blob_path: str, offset: int, length: int) -> list[int]:
        """Decode one deletion-vector blob (KB-sized roaring bitmap) to
        its masked row positions — driver-side control plane, shared by
        the batch and streaming change feeds."""
        from ent_fins_lakehouse_spark.sources.roaring import roaring64_rows

        with open(blob_path, "rb") as fh:
            fh.seek(int(offset))
            return roaring64_rows(fh.read(int(length)))

    def _files_full(self, snapshot_id: int | None = None):
        """Resolve a snapshot to ``(data, pos_deletes, eq_deletes,
        dvs)``: data = [(path, seq, bounds)], pos_deletes = [path],
        eq_deletes = [(path, seq, equality_ids)], dvs = [(blob_path,
        offset, length, referenced_data_file, rows)]. Sequence numbers
        come from the manifest entry or are inherited from its
        manifest-list row (the spec's inheritance rule); v1 logs
        without them get 0."""
        meta = self.metadata()
        snaps = meta.get("snapshots") or []
        if not snaps:
            return [], [], [], []
        if snapshot_id is None:
            snapshot_id = meta["current-snapshot-id"]
            if snapshot_id in (None, -1):
                return [], [], [], []
        snap = next(
            (s for s in snaps if s["snapshot-id"] == snapshot_id), None
        )
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} not in {self.meta_dir}")
        _, manifests = read_ocf(self._resolve(snap["manifest-list"]))
        data: list[tuple[str, int]] = []
        pos_deletes: list[str] = []
        eq_deletes: list[tuple[str, int, list[int]]] = []
        dvs: list[tuple[str, int, int, str, int]] = []
        names = self.field_names_by_id(meta)
        ftypes = {
            f["id"]: f["type"]
            for f in self._ice_schema(meta)["fields"]
            if isinstance(f["type"], str)
        }
        # Partition-tuple interpretation is PER MANIFEST: after spec
        # evolution (evolve_spec) a table carries manifests written
        # under different specs, each manifest-list row naming its
        # spec id — so the tuple→bounds maps below are resolved from
        # THAT spec, not the default (the spec's 'Partition Evolution'
        # rule: old data keeps its old layout).
        #
        # identity tuples pin the source column to ONE value per data
        # file → exact [v, v] range (partition values are never
        # truncated, so they prune string predicates too).
        # bucket[n] tuples pin the bucket ORDINAL under the synthetic
        # partition-field name (pruned via _prune_predicate's rewrite).
        # truncate[w] tuples ARE source-column information: int t pins
        # [t, t+w-1]; a string tuple is a shared prefix.
        # day tuples (days since epoch) become conservative DATE-string
        # bounds [day, next day) on the timestamp source.
        # Unknown transforms are ignored — the file is kept: sound.
        specs_by_id = {
            int(sp.get("spec-id") or 0): list(sp.get("fields") or [])
            for sp in (meta.get("partition-specs") or [])
        }
        if not specs_by_id:
            specs_by_id = {0: self.partition_fields(meta)}
        _maps_cache: dict[int, tuple] = {}

        def _spec_maps(spec_id: int) -> tuple:
            got = _maps_cache.get(spec_id)
            if got is not None:
                return got
            pfs = specs_by_id.get(spec_id, [])
            ident_parts = {
                pf["name"]: names.get(pf["source-id"])
                for pf in pfs
                if pf.get("transform") == "identity"
            }
            bucket_parts = {
                pf["name"]
                for pf in pfs
                if _BUCKET_TRANSFORM.match(pf.get("transform") or "")
            }
            trunc_parts = {}
            for pf in pfs:
                tm = _TRUNC_TRANSFORM.match(pf.get("transform") or "")
                if tm:
                    trunc_parts[pf["name"]] = (
                        names.get(pf["source-id"]),
                        int(tm.group(1)),
                        ftypes.get(pf["source-id"]),
                    )
            time_parts = {
                pf["name"]: (names.get(pf["source-id"]), pf["transform"])
                for pf in pfs
                if (pf.get("transform") or "") in ("hour", "day", "month", "year")
            }
            got = (ident_parts, bucket_parts, trunc_parts, time_parts)
            _maps_cache[spec_id] = got
            return got

        for m in manifests:
            m_seq = m.get("sequence_number") or 0
            ident_parts, bucket_parts, trunc_parts, time_parts = _spec_maps(
                int(m.get("partition_spec_id") or 0)
            )
            _, entries = read_ocf(self._resolve(m["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:  # DELETED entry — file removed
                    continue
                seq = e.get("sequence_number")
                seq = m_seq if seq is None else seq
                df_rec = e["data_file"]
                content = df_rec.get("content") or 0
                fmt = (df_rec.get("file_format") or "PARQUET").upper()
                is_dv = content == 1 and bool(df_rec.get("referenced_data_file"))
                if fmt != "PARQUET" and not (is_dv and fmt == "PUFFIN"):
                    raise NotImplementedError(f"Iceberg data file format {fmt}")
                path = self._resolve(df_rec["file_path"])
                if content == 0:
                    bounds = _entry_bounds(df_rec, names, ftypes)
                    pv = df_rec.get("partition")
                    if pv and ident_parts:
                        for pname, col in ident_parts.items():
                            v = pv.get(pname) if isinstance(pv, dict) else None
                            if col is not None and v is not None:
                                bounds[col] = [v, v]
                    if pv and bucket_parts and isinstance(pv, dict):
                        for pname in bucket_parts:
                            v = pv.get(pname)
                            if v is not None:
                                bounds[pname] = [v, v]
                    if pv and trunc_parts and isinstance(pv, dict):
                        for pname, (src, w, styp) in trunc_parts.items():
                            v = pv.get(pname)
                            if src is None or v is None or src in bounds:
                                continue  # footer stats are tighter
                            if styp in ("int", "long"):
                                bounds[src] = [int(v), int(v) + w - 1]
                            elif styp == "string":
                                bounds[src] = [v, str(v) + chr(0x10FFFF)]
                    if pv and time_parts and isinstance(pv, dict):
                        import datetime as _dt

                        for pname, (src, unit) in time_parts.items():
                            v = pv.get(pname)
                            if src is None or v is None or src in bounds:
                                continue
                            v = int(v)
                            # ordinal → the covered [start, next-start)
                            # ISO range (spec 'Partition Transforms':
                            # hour/day/month/year ordinals from 1970)
                            if unit == "hour":
                                t0 = _dt.datetime(1970, 1, 1) + _dt.timedelta(hours=v)
                                t1 = t0 + _dt.timedelta(hours=1)
                                bounds[src] = [
                                    t0.strftime("%Y-%m-%d %H:%M:%S"),
                                    t1.strftime("%Y-%m-%d %H:%M:%S"),
                                ]
                                continue
                            if unit == "day":
                                d0 = _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
                                d1 = d0 + _dt.timedelta(days=1)
                            elif unit == "month":
                                y, m = divmod(v, 12)
                                d0 = _dt.date(1970 + y, m + 1, 1)
                                y1, m1 = divmod(v + 1, 12)
                                d1 = _dt.date(1970 + y1, m1 + 1, 1)
                            else:  # year
                                d0 = _dt.date(1970 + v, 1, 1)
                                d1 = _dt.date(1971 + v, 1, 1)
                            bounds[src] = [d0.isoformat(), d1.isoformat()]
                    data.append((path, seq, bounds))
                elif content == 1:
                    ref = df_rec.get("referenced_data_file")
                    if ref:
                        # v3 deletion vector: a Puffin-style blob, not
                        # a parquet position-delete file
                        dvs.append(
                            (
                                path,
                                int(df_rec.get("content_offset") or 0),
                                int(df_rec.get("content_size_in_bytes") or 0),
                                self._resolve(ref),
                                int(df_rec.get("record_count") or 0),
                            )
                        )
                    else:
                        pos_deletes.append(path)
                else:  # content == 2: equality delete
                    ids = df_rec.get("equality_ids")
                    if not ids:
                        raise ValueError(
                            f"equality delete {path} carries no equality_ids"
                        )
                    eq_deletes.append((path, seq, list(ids)))
        return data, pos_deletes, eq_deletes, dvs

    def data_files(self, snapshot_id: int | None = None) -> list[str]:
        return [p for p, _, _ in self._files(snapshot_id)[0]]

    def _prune_predicate(self, where: str | None) -> str | None:
        """Pruning-only predicate augmentation for bucket partitioning:
        each parseable ``col = literal`` conjunct whose column is a
        bucket SOURCE gains a ``<pf_name> = bucket_n(literal)`` conjunct
        evaluated against the manifests' synthetic bucket stats (how
        Iceberg itself prunes bucketed scans: the residual transform of
        an equality predicate is an equality on the ordinal). The data
        filter always stays the ORIGINAL predicate — the synthetic
        column never exists in rows."""
        if not where:
            return where
        from ent_fins_lakehouse_spark.sources.skipping import parse_conjuncts

        meta = self.metadata()
        names = self.field_names_by_id(meta)
        # buckets from EVERY spec (after evolution, files of any spec
        # may be live): pruning on a conjunct whose synthetic column is
        # absent from a file's stats keeps the file, so extra
        # conjuncts are always sound. A source bucketed under two
        # different (name, n) pairs would make one conjunct lie —
        # drop that source instead.
        buckets: dict[str, tuple[str, int]] = {}
        clash: set[str] = set()
        for sp in meta.get("partition-specs") or [
            {"fields": self.partition_fields(meta)}
        ]:
            for pf in sp.get("fields") or []:
                m = _BUCKET_TRANSFORM.match(pf.get("transform") or "")
                if m:
                    src = names[pf["source-id"]]
                    pair = (pf["name"], int(m.group(1)))
                    if src in buckets and buckets[src] != pair:
                        clash.add(src)
                    buckets[src] = pair
        for src in clash:
            buckets.pop(src, None)
        if not buckets:
            return where
        cons = parse_conjuncts(where)
        if not cons:
            return where
        extra = [
            f"{buckets[col][0]} = {_bucket_value(lit, buckets[col][1])}"
            for col, op, lit in cons
            if op == "=" and col in buckets and isinstance(lit, (int, str))
            and not isinstance(lit, bool)
        ]
        if not extra:
            return where
        return where + " AND " + " AND ".join(extra)

    def scan_info(
        self, where: str | None = None, snapshot_id: int | None = None
    ) -> dict:
        """How many data files a predicate scan reads vs skips via the
        manifests' lower/upper bounds (the LakeTable / DeltaLogTable
        ``scan_info`` surface, cross-format)."""
        from ent_fins_lakehouse_spark.sources.skipping import prune_dirs

        data, _, _ = self._files(snapshot_id)
        stats = {p: b for p, _, b in data}
        cand, pruned = prune_dirs(
            self._prune_predicate(where), stats, [p for p, _, _ in data]
        )
        return {"n_active": len(data), "n_read": len(cand), "n_pruned": len(pruned)}

    def snapshot_at(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF resolution: the latest snapshot whose
        ``timestamp-ms`` is ≤ the given instant (the Delta
        ``version_at`` twin, cross-format)."""
        cands = [
            s for s in self.snapshots() if s.get("timestamp-ms", 0) <= timestamp_ms
        ]
        if not cands:
            raise ValueError(
                f"no snapshot at or before timestamp {timestamp_ms} in {self.meta_dir}"
            )
        return max(cands, key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]))[
            "snapshot-id"
        ]

    # ------------------------------------------------ refs (spec: 'Refs')

    def refs(self) -> dict:
        """Named refs — ``{name: {"snapshot-id", "type"}}`` with type
        ``tag`` (immutable label) or ``branch`` (independent movable
        head). ``main`` is implicit: the current snapshot."""
        return dict(self.metadata().get("refs") or {})

    def set_ref(self, name: str, snapshot_id: int | None = None, ref_type: str = "tag") -> int:
        """Create/move a named ref (Iceberg spec v2 'Refs'; the engine
        side of ``ALTER TABLE … CREATE TAG/BRANCH``). Metadata-only
        O_EXCL commit; defaults to the current snapshot. Returns the
        pinned snapshot id."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be 'tag' or 'branch', got {ref_type!r}")
        if name == "main":
            raise ValueError("'main' is the implicit current-snapshot ref")
        meta = self.metadata()
        sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        if sid in (None, -1) or all(
            s["snapshot-id"] != sid for s in meta.get("snapshots") or []
        ):
            raise ValueError(f"snapshot {sid} not in {self.meta_dir}")
        refs = dict(meta.get("refs") or {})
        refs[name] = {"snapshot-id": int(sid), "type": ref_type}
        self._write_metadata({**meta, "refs": refs})
        return int(sid)

    def drop_ref(self, name: str) -> None:
        meta = self.metadata()
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise ValueError(f"ref {name!r} not in {sorted(refs)}")
        refs.pop(name)
        self._write_metadata({**meta, "refs": refs})

    def _resolve_ref(self, ref: str) -> int:
        meta = self.metadata()
        if ref == "main":
            sid = meta.get("current-snapshot-id")
            if sid in (None, -1):
                raise ValueError("table has no current snapshot")
            return int(sid)
        r = (meta.get("refs") or {}).get(ref)
        if r is None:
            raise ValueError(
                f"ref {ref!r} not in {sorted(meta.get('refs') or {})}"
            )
        return int(r["snapshot-id"])

    def fast_forward(self, branch: str) -> int:
        """``fast_forward('audit')`` — publish a branch: move the main
        head to the branch's snapshot, requiring main to be an ancestor
        (the audit/WAP publish step; non-ancestor moves must go through
        a real merge). Metadata-only commit."""
        meta = self.metadata()
        target = self._resolve_ref(branch)
        cur = meta.get("current-snapshot-id")
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
        walk, seen = target, set()
        while walk is not None and walk not in seen:
            if walk == cur or cur in (None, -1):
                break
            seen.add(walk)
            walk = by_id.get(walk, {}).get("parent-snapshot-id")
        else:
            raise ValueError(
                f"main ({cur}) is not an ancestor of branch {branch!r} "
                f"({target}) — cannot fast-forward"
            )
        self._write_metadata({**meta, "current-snapshot-id": target})
        return target

    def rollback_to(
        self, snapshot_id: int | None = None, timestamp_ms: int | None = None
    ) -> int:
        """``rollback_to_snapshot`` / ``rollback_to_timestamp`` —
        Iceberg's undo verb (the Delta RESTORE twin, cross-format):
        move the main head BACK to an ancestor snapshot. Metadata-only
        — the snapshots list is untouched, so the rolled-past
        snapshots stay time-travelable (and re-publishable with
        :meth:`set_current_snapshot`); at 100 TB the undo of a bad
        write is one metadata.json commit, zero data movement. The
        target must be an ancestor of the current snapshot (Iceberg's
        own restriction — arbitrary moves are
        :meth:`set_current_snapshot`)."""
        if (snapshot_id is None) == (timestamp_ms is None):
            raise ValueError("pass exactly one of snapshot_id / timestamp_ms")
        if timestamp_ms is not None:
            snapshot_id = self.snapshot_at(timestamp_ms)
        meta = self.metadata()
        cur = meta.get("current-snapshot-id")
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
        if snapshot_id not in by_id:
            raise ValueError(f"snapshot {snapshot_id} not in {self.meta_dir}")
        walk, seen = cur, set()
        while walk is not None and walk not in seen:
            if walk == snapshot_id:
                break
            seen.add(walk)
            walk = by_id.get(walk, {}).get("parent-snapshot-id")
        else:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of the current "
                f"snapshot ({cur}) — use set_current_snapshot for "
                "arbitrary moves"
            )
        if cur != snapshot_id:
            self._write_metadata(self._with_new_head(meta, int(snapshot_id)))
        return int(snapshot_id)

    @staticmethod
    def _with_new_head(meta: dict, snapshot_id: int) -> dict:
        """Move ``current-snapshot-id`` and append the spec-required
        ``snapshot-log`` entry (the history table records every time a
        snapshot becomes current — including re-publication after a
        rollback, per the spec's log semantics)."""
        import time as _time

        return {
            **meta,
            "current-snapshot-id": snapshot_id,
            "snapshot-log": [
                *(meta.get("snapshot-log") or []),
                {
                    "timestamp-ms": int(_time.time() * 1000),
                    "snapshot-id": snapshot_id,
                },
            ],
        }

    def set_current_snapshot(self, snapshot_id: int) -> int:
        """``set_current_snapshot`` — arbitrary head move (redo after a
        rollback, or pinning any historical snapshot). Metadata-only;
        the snapshot must exist in the log."""
        meta = self.metadata()
        if all(
            s["snapshot-id"] != snapshot_id for s in meta.get("snapshots") or []
        ):
            raise ValueError(f"snapshot {snapshot_id} not in {self.meta_dir}")
        if meta.get("current-snapshot-id") != snapshot_id:
            self._write_metadata(self._with_new_head(meta, int(snapshot_id)))
        return int(snapshot_id)

    def _dv_del_df(self, dvs) -> DataFrame:
        """``(_fp, _ri)`` rows masked by v3 deletion vectors, decoded
        ON THE EXECUTORS from the Puffin-style blobs via mapInPandas
        over the (tiny) descriptor list — the engine's Delta-side DV
        read discipline (bitmaps never land on the driver; each blob
        decodes in parallel; the plan carries one bounded anti-join)."""
        desc = [(p, int(o), int(l), r) for p, o, l, r, _ in dvs]
        desc_df = self.spark.createDataFrame(
            desc, "_p STRING, _o LONG, _l LONG, _fp STRING"
        )
        if len(desc) > 1:
            desc_df = desc_df.repartition(min(len(desc), 32))

        def decode(batches):
            import pandas as pd

            from ent_fins_lakehouse_spark.sources.roaring import roaring64_rows

            for pdf in batches:
                for path, off, ln, fp in zip(
                    pdf["_p"], pdf["_o"], pdf["_l"], pdf["_fp"]
                ):
                    with open(path, "rb") as fh:
                        fh.seek(int(off))
                        payload = fh.read(int(ln))
                    yield pd.DataFrame(
                        {
                            "_fp": fp,
                            "_ri": pd.Series(
                                roaring64_rows(payload), dtype="int64"
                            ),
                        }
                    )

        return desc_df.mapInPandas(decode, "_fp STRING, _ri LONG")

    def _read_schema_for(self, sample_path: str, schema: T.StructType) -> T.StructType:
        """Schema-evolution-safe read schema: if the data files carry
        parquet FIELD IDS (every real Iceberg writer embeds them —
        spec: 'Column Projection' rule 1 resolves by id, names are
        display only), request columns by id via Spark's native
        ``parquet.field.id`` support, so a column RENAMED after the
        file was written still reads its values instead of silently
        returning nulls under name matching. Files without ids (this
        shim's own staged writes) keep name resolution — one footer
        probe decides, no data scan."""
        import pyarrow.parquet as pq

        try:
            arrow = pq.ParquetFile(sample_path).schema_arrow
            has_ids = all(
                f.metadata and b"PARQUET:field_id" in f.metadata for f in arrow
            )
        except Exception:
            has_ids = False
        if not has_ids:
            return schema
        ids = {f["name"]: f["id"] for f in self._ice_schema()["fields"]}
        ids.update(ROW_LINEAGE_COLS)  # reserved metadata-column ids (v3)
        if not all(f.name in ids for f in schema.fields):
            return schema
        self.spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        return T.StructType(
            [
                T.StructField(
                    f.name, f.dataType, True, {"parquet.field.id": ids[f.name]}
                )
                for f in schema.fields
            ]
        )

    def read(
        self,
        snapshot_id: int | None = None,
        where: str | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        if sum(x is not None for x in (snapshot_id, as_of_timestamp_ms, ref)) > 1:
            raise ValueError("pass at most one of snapshot_id / as_of_timestamp_ms / ref")
        if as_of_timestamp_ms is not None:
            snapshot_id = self.snapshot_at(as_of_timestamp_ms)
        elif ref is not None:
            snapshot_id = self._resolve_ref(ref)
        schema = self.schema()
        data, pos_deletes, eq_deletes, dvs = self._files_full(snapshot_id)
        if where:
            # file skipping on manifest [lower, upper] bounds — prune
            # only selects files; the predicate still runs as a filter
            from ent_fins_lakehouse_spark.sources.skipping import prune_dirs

            stats = {p: b for p, _, b in data}
            cand, _pruned = prune_dirs(
                self._prune_predicate(where), stats, [p for p, _, _ in data]
            )
            keep = set(cand)
            data = [d for d in data if d[0] in keep]
        if not data:
            empty = self.spark.createDataFrame([], schema)
            return empty.filter(where) if where else empty
        norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
        need_seq = bool(eq_deletes)
        defs = self._initial_default_fields()
        read_schema = self._read_schema_for(data[0][0], schema)
        parts = []
        for seq in sorted({s for _, s, _ in data}):
            paths = sorted(p for p, s, _ in data if s == seq)
            df = self.spark.read.schema(read_schema).parquet(*paths)
            if pos_deletes or dvs or need_seq or defs:
                df = df.select(
                    "*",
                    norm(F.col("_metadata.file_path")).alias("_fp"),
                    F.col("_metadata.row_index").alias("_ri"),
                )
            if need_seq:
                df = df.withColumn("_seq", F.lit(seq))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if pos_deletes or dvs:
            # position deletes (spec: 'Position Delete Files' — parquet
            # rows of (file_path, pos)) and v3 DELETION VECTORS
            # (executor-decoded bitmaps) reduce to the same (_fp, _ri)
            # mask: one unioned anti-join on file identity + row index.
            # Fully distributed — delete frames stay DataFrames; AQE
            # broadcasts them when small.
            del_parts = []
            if pos_deletes:
                del_parts.append(
                    self.spark.read.schema("file_path STRING, pos LONG")
                    .parquet(*sorted(pos_deletes))
                    .select(
                        norm(F.col("file_path")).alias("_fp"),
                        F.col("pos").alias("_ri"),
                    )
                )
            if dvs:
                del_parts.append(self._dv_del_df(dvs))
            del_df = del_parts[0]
            for dp in del_parts[1:]:
                del_df = del_df.unionByName(dp)
            out = out.join(del_df, ["_fp", "_ri"], "left_anti")
        # equality deletes: a delete file at sequence S masks rows only
        # in data files with sequence < S, matching null-safely on its
        # equality_ids columns — one distributed anti-join per delete
        # file (delete sets are small relative to data; AQE broadcasts)
        id_names = self.field_names_by_id() if eq_deletes else {}
        for path, seq, ids in eq_deletes:
            try:
                cols = [id_names[i] for i in ids]
            except KeyError as e:
                raise NotImplementedError(
                    f"equality delete {path} references unknown field id {e} "
                    "(nested or dropped columns are not supported)"
                ) from None
            del_df = (
                self._read_eq_keys(path, list(ids), schema)
                .select(*[F.col(c).alias(f"_eq_{c}") for c in cols])
                .distinct()
            )
            cond = [out["_seq"] < F.lit(seq)] + [
                out[c].eqNullSafe(del_df[f"_eq_{c}"]) for c in cols
            ]
            out = out.join(del_df, on=cond, how="left_anti")
        if defs:
            # v3 default values: rows in files that predate a defaulted
            # column read its initial-default (metadata-only backfill)
            out = self._apply_initial_defaults(
                out, [p for p, _, _ in data], defs, schema
            )
        drop = [c for c in ("_fp", "_ri", "_seq") if c in out.columns]
        out = out.drop(*drop) if drop else out
        return out.filter(where) if where else out

    # ------------------------------------------------------------- write

    #: manifest entry / manifest list Avro schemas for the append
    #: writer (spec: 'Manifests' / 'Snapshots' — the required fields
    #: plus field-id-keyed bounds so our own reads can file-skip)
    _MANIFEST_SCHEMA = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # spec field 140: id of the sort order the file's
                    # rows were written under (null = unsorted / unknown)
                    {"name": "sort_order_id", "type": ["null", "int"]},
                    # v3 deletion vectors (spec: 'Deletion Vectors' /
                    # Puffin 'deletion-vector-v1'): a content=1 entry
                    # whose file is a DV blob names the ONE data file
                    # it masks plus the blob's [offset, length) in the
                    # sidecar. Null on every non-DV entry.
                    {"name": "referenced_data_file", "type": ["null", "string"]},
                    {"name": "content_offset", "type": ["null", "long"]},
                    {"name": "content_size_in_bytes", "type": ["null", "long"]},
                    # v3 row lineage (spec data_file field 142): the
                    # _row_id of the file's first row; rows inherit
                    # first_row_id + position. Null when the file
                    # predates lineage or carries MATERIALIZED _row_id
                    # columns (rewrites preserving ids).
                    {"name": "first_row_id", "type": ["null", "long"]},
                    {"name": "lower_bounds", "type": ["null", {
                        "type": "array", "items": {
                            "type": "record", "name": "k126", "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"}]}}]},
                    {"name": "upper_bounds", "type": ["null", {
                        "type": "array", "items": {
                            "type": "record", "name": "k129", "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"}]}}]},
                    {"name": "equality_ids", "type": ["null", {
                        "type": "array", "items": "int"}]},
                ]}},
        ],
    }
    _MANIFEST_LIST_SCHEMA = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "added_snapshot_id", "type": "long"},
        ],
    }

    #: identity-partition value types the writer can carry in the
    #: manifest partition record (iceberg type → avro type)
    _PART_AVRO = {"int": "int", "long": "long", "string": "string",
                  "float": "float", "double": "double"}

    def _manifest_schema(self, part_fields: list[dict], ice_schema: dict) -> dict:
        """Manifest-entry Avro schema with the table's partition record
        (spec: 'Manifests', field 102 ``partition`` — a record with one
        nullable field per partition field). Unpartitioned tables keep
        the bare shape."""
        import copy

        sch = copy.deepcopy(self._MANIFEST_SCHEMA)
        if not part_fields:
            return sch
        ftypes = {f["id"]: f["type"] for f in ice_schema["fields"]}
        pfields = []
        for pf in part_fields:
            t = ftypes.get(pf["source-id"])
            if _BUCKET_TRANSFORM.match(pf.get("transform") or ""):
                # bucket[n] partition values are int bucket ordinals
                pfields.append({"name": pf["name"], "type": ["null", "int"]})
                continue
            if _TRUNC_TRANSFORM.match(pf.get("transform") or ""):
                # truncate[w] tuples keep the SOURCE type
                pfields.append(
                    {"name": pf["name"], "type": ["null", self._PART_AVRO[t]]}
                )
                continue
            if (pf.get("transform") or "") in ("hour", "day", "month", "year"):
                # hour/day/month/year ordinals (since epoch) ride as ints
                pfields.append({"name": pf["name"], "type": ["null", "int"]})
                continue
            if pf.get("transform") != "identity" or t not in self._PART_AVRO:
                raise NotImplementedError(
                    f"append to table partitioned by {pf.get('transform')}"
                    f"({t}) — only identity, bucket[n], truncate[w] and "
                    "hour/day/month/year over supported source types"
                )
            pfields.append(
                {"name": pf["name"], "type": ["null", self._PART_AVRO[t]]}
            )
        part_rec = {"type": "record", "name": "r102", "fields": pfields}
        for f in sch["fields"]:
            if f["name"] == "data_file":
                f["type"]["fields"].insert(2, {"name": "partition", "type": part_rec})
        return sch

    def _stage_data_entries(
        self,
        df: DataFrame,
        ice_schema: dict,
        part_fields: list[dict],
        spec_cols: list[str],
        snap_id: int,
        sort_order_id: int | None = None,
    ) -> list[dict]:
        """Stage ``df`` as parquet data files under ``data/`` and return
        content=0 manifest entries (footer-sourced record counts +
        little-endian numeric bounds + identity partition tuple). One
        distributed ``df.write.parquet``; the driver reads footers only.
        Shared by :meth:`append`, :meth:`update` and :meth:`merge`."""
        import glob
        import shutil
        import tempfile
        import urllib.parse
        import uuid as _uuid

        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
        itypes = {
            f["name"]: f["type"]
            for f in ice_schema["fields"]
            if isinstance(f["type"], str)
        }
        st = tempfile.mkdtemp(prefix="icew_")
        entries: list[dict] = []
        spark_types = {f.name: f.dataType for f in df.schema.fields}
        # v3 row lineage: materialized lineage columns (a preserving
        # rewrite, e.g. compact) get the spec's RESERVED field ids so
        # the alias loop below can stamp them; they never enter bounds
        # (itypes has no entry) and their entries keep first_row_id
        # null — readers use the materialized values instead.
        materialized_lineage = any(c in df.columns for c in ROW_LINEAGE_COLS)
        if materialized_lineage:
            ids = {**ids, **{c: fid for c, fid in ROW_LINEAGE_COLS.items() if c in df.columns}}

        names_by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
        # (pf_name, src_col, kind, param) with kind ∈ identity|bucket|truncate
        pf_info: list[tuple[str, str, str, int | None]] = []
        for pf in part_fields:
            src = names_by_id[pf["source-id"]]
            tr = pf.get("transform") or ""
            if m := _BUCKET_TRANSFORM.match(tr):
                pf_info.append((pf["name"], src, "bucket", int(m.group(1))))
            elif m := _TRUNC_TRANSFORM.match(tr):
                pf_info.append((pf["name"], src, "truncate", int(m.group(1))))
            elif tr in ("hour", "day", "month", "year"):
                pf_info.append((pf["name"], src, tr, None))
            else:
                pf_info.append((pf["name"], src, "identity", None))

        def hive_val(pf_name: str, raw: str):
            if raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            s = urllib.parse.unquote(raw)
            (src, kind, _w) = next(
                (sc, k, w) for n, sc, k, w in pf_info if n == pf_name
            )
            if kind in ("bucket", "hour", "day", "month", "year"):
                return int(s)
            dt = spark_types[src]
            if isinstance(dt, (T.IntegerType, T.LongType)):
                return int(s)
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return float(s)
            return s

        try:
            # embed the Iceberg field ids as parquet field ids (what
            # every real writer does; Spark writes them when the
            # schema metadata carries parquet.field.id) — so OUR files
            # survive RENAME COLUMN under the reader's id resolution
            df = df.select(
                *[
                    F.col(f.name).alias(f.name, metadata={"parquet.field.id": ids[f.name]})
                    for f in df.schema.fields
                ]
            )
            self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
            if pf_info:
                stage_df = df
                for pf_name, src, kind, w in pf_info:
                    # staging column = the TRANSFORMED partition value
                    # (identity: the column itself; bucket[n]: the
                    # murmur3 ordinal via a vectorized pandas UDF;
                    # truncate[w]: floor-mod int / prefix string, pure
                    # JVM exprs) — df.write.partitionBy keeps it OUT of
                    # the data files, exactly the spec's data layout
                    if kind == "bucket":
                        if isinstance(df.schema[src].dataType, T.StringType):
                            expr = _bucket_udf(w, "str")(F.col(src))
                        else:
                            # ints ship as STRINGS: exact for the full
                            # int64 domain (a null in the batch would
                            # otherwise force float64 and corrupt
                            # buckets for keys above 2^53)
                            expr = _bucket_udf(w, "int")(
                                F.col(src).cast("string")
                            )
                    elif kind == "hour":
                        # hours since epoch (spec 'Partition
                        # Transforms'); same negative-safe JVM floor
                        # division as day
                        expr = F.floor(
                            F.col(src).cast("double") / F.lit(3600.0)
                        ).cast("int")
                    elif kind == "day":
                        # days since epoch (spec 'Partition Transforms');
                        # floor division handles pre-1970 instants
                        expr = F.floor(
                            F.col(src).cast("double") / F.lit(86400.0)
                        ).cast("int")
                    elif kind == "month":
                        # months since 1970-01 (negative before)
                        expr = (
                            (F.year(src) - F.lit(1970)) * F.lit(12)
                            + F.month(src)
                            - F.lit(1)
                        ).cast("int")
                    elif kind == "year":
                        expr = (F.year(src) - F.lit(1970)).cast("int")
                    elif kind == "truncate":
                        if isinstance(spark_types[src], (T.IntegerType, T.LongType)):
                            # spec: v - (((v % W) + W) % W) — floor toward -inf
                            expr = F.col(src) - (
                                ((F.col(src) % w) + w) % w
                            )
                        else:
                            expr = F.substring(F.col(src), 1, w)
                    else:
                        expr = F.col(src)
                    stage_df = stage_df.withColumn(f"__ipart_{pf_name}", expr)
                stage_df.write.mode("overwrite").partitionBy(
                    *[f"__ipart_{n}" for n, _, _, _ in pf_info]
                ).parquet(st)
                staged = sorted(
                    glob.glob(os.path.join(st, *["*"] * len(pf_info), "part-*.parquet"))
                )
            else:
                df.write.mode("overwrite").parquet(st)
                staged = sorted(glob.glob(os.path.join(st, "part-*.parquet")))
            for f in staged:
                pv: dict[str, object] = {}
                if pf_info:
                    rel_dirs = os.path.relpath(os.path.dirname(f), st).split(os.sep)
                    for d in rel_dirs:
                        k, _, raw = d.partition("=")
                        c = k[len("__ipart_") :]
                        pv[c] = hive_val(c, raw)
                    sub = "/".join(
                        f"{c}={urllib.parse.quote(str(pv[c]), safe='')}"
                        if pv[c] is not None
                        else f"{c}=__HIVE_DEFAULT_PARTITION__"
                        for c, _, _, _ in pf_info
                    )
                    ddir = os.path.join(data_dir, sub)
                    os.makedirs(ddir, exist_ok=True)
                else:
                    ddir = data_dir
                dest = os.path.join(ddir, f"{_uuid.uuid4().hex}.parquet")
                shutil.move(f, dest)
                num_rows, lo_kv, hi_kv = _footer_bounds(dest, ids, itypes)
                data_file = {
                    "content": 0,
                    "file_path": dest,
                    "file_format": "PARQUET",
                    "record_count": num_rows,
                    "file_size_in_bytes": os.path.getsize(dest),
                    "sort_order_id": sort_order_id,
                    "lower_bounds": lo_kv or None,
                    "upper_bounds": hi_kv or None,
                }
                if spec_cols:
                    data_file["partition"] = {
                        pf["name"]: pv.get(pf["name"]) for pf in part_fields
                    }
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "sequence_number": None,  # inherited from the list row
                        "data_file": data_file,
                    }
                )
        finally:
            shutil.rmtree(st, ignore_errors=True)
        self._assign_entry_row_ids(entries)
        return entries

    def _assign_entry_row_ids(self, entries: list[dict]) -> None:
        """v3 row lineage: slice the table's next-row-id counter across
        freshly staged files (entry first_row_id; rows inherit
        coalesce(materialized _row_id, first_row_id + position)).
        ALWAYS assigned, even on preserving rewrites whose rows carry
        materialized ids — the spec allows over-allocation (next-row-id
        only ever grows), and it is what gives a MIXED file (merge:
        carried-over rows materialized, inserts null) fresh unique ids
        for exactly its null-id rows. Stashed as PENDING — only the
        _commit_snapshot that lands this staging advances the counter,
        keeping assignment transactional with the commit. Re-invoked by
        the append retry path after reloading metadata (a concurrent
        commit may have advanced the counter)."""
        self._pending_row_lineage = None
        try:
            next_rid = self.metadata().get("next-row-id")
        except (FileNotFoundError, ValueError, OSError):
            next_rid = None  # brand-new table: lineage not enabled yet
        if next_rid is not None:
            rid = start = int(next_rid)
            for e in entries:
                e["data_file"]["first_row_id"] = rid
                rid += int(e["data_file"]["record_count"])
            self._pending_row_lineage = (start, rid)

    def _prior_manifest_rows(
        self, meta: dict, snaps: list[dict], head_id: int | None = None
    ) -> list[dict]:
        """Normalized manifest-list rows of the current (or, for a
        branch append, the branch-head) snapshot, to be carried forward
        into the next snapshot's manifest list."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        if head_id is None:
            head_id = meta.get("current-snapshot-id")
        if not snaps or head_id in (None, -1):
            return []
        cur = next(s for s in snaps if s["snapshot-id"] == head_id)
        _, prev_rows = read_ocf(self._resolve(cur["manifest-list"]))
        return [
            {
                "manifest_path": r["manifest_path"],
                "manifest_length": r.get("manifest_length") or 0,
                "partition_spec_id": r.get("partition_spec_id") or 0,
                "content": r.get("content") or 0,
                "sequence_number": r.get("sequence_number"),
                "added_snapshot_id": r.get("added_snapshot_id") or 0,
            }
            for r in prev_rows
        ]

    def _rewrite_prior_rows_excluding(
        self, meta: dict, snaps: list[dict], affected: set[str], snap_id: int
    ) -> list[dict]:
        """Prior manifest-list rows with every entry for an ``affected``
        data file REMOVED — the copy-on-write REPLACE primitive. Data
        manifests touching an affected file are rewritten (surviving
        entries become status=0 EXISTING with EXPLICIT sequence numbers,
        the spec's rule for rewritten manifests); untouched manifests
        and delete manifests carry forward verbatim. O(manifest size),
        never touches data files."""
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        out: list[dict] = []
        for r in self._prior_manifest_rows(meta, snaps):
            if (r.get("content") or 0) != 0:
                out.append(r)
                continue
            sch, entries = read_ocf(self._resolve(r["manifest_path"]))
            m_seq = r.get("sequence_number") or 0
            keep, changed = [], False
            for e in entries:
                if e.get("status") == 2:
                    continue
                if self._resolve(e["data_file"]["file_path"]) in affected:
                    changed = True
                    continue
                keep.append(
                    {
                        **e,
                        "status": 0,
                        "sequence_number": (
                            e.get("sequence_number")
                            if e.get("sequence_number") is not None
                            else m_seq
                        ),
                    }
                )
            if not changed:
                out.append(r)
                continue
            if not keep:
                continue  # every entry rewritten away — drop the manifest
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, sch, keep)
            out.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": r.get("partition_spec_id") or 0,
                    "content": 0,
                    "sequence_number": m_seq,
                    "added_snapshot_id": snap_id,
                }
            )
        return out

    def _rebase_over_appends(
        self, basis_meta: dict, operation: str
    ) -> tuple[dict, list[dict], int, int]:
        """Recompute a commit basis after losing the staleness race,
        PROVIDED every winner commit since ``basis_meta`` was a blind
        append — the Iceberg twin of DeltaLogTable's WriteSerializable
        blind-append diff (VERDICT r9 item 5), mapped onto the
        sequence-number model: appends never remove files and add no
        delete content, so a row-level change planned against the old
        head still applies verbatim to the new head; only the snapshot
        and sequence ids re-derive (and the manifests/entries carrying
        them get re-stamped by the caller). Any non-append winner
        (overwrite/replace/delete) or schema/spec/property/ref drift
        keeps the loud loss: the planned change might target rows the
        winner moved or removed. Returns ``(meta, snaps, seq,
        snap_id)`` against the new head."""
        meta2 = self.metadata()
        basis_ids = {s["snapshot-id"] for s in (basis_meta.get("snapshots") or [])}
        snaps2 = list(meta2.get("snapshots") or [])
        winners = [s for s in snaps2 if s["snapshot-id"] not in basis_ids]
        drift = (
            meta2.get("current-schema-id") != basis_meta.get("current-schema-id")
            or meta2.get("default-spec-id") != basis_meta.get("default-spec-id")
            or json.dumps(meta2.get("properties") or {}, sort_keys=True)
            != json.dumps(basis_meta.get("properties") or {}, sort_keys=True)
            or json.dumps(meta2.get("refs") or {}, sort_keys=True)
            != json.dumps(basis_meta.get("refs") or {}, sort_keys=True)
        )
        non_append = [
            s["snapshot-id"]
            for s in winners
            if ((s.get("summary") or {}).get("operation") or "") != "append"
        ]
        if drift or non_append:
            what = (
                f"non-append snapshots {non_append}" if non_append else "metadata drift"
            )
            raise RuntimeError(
                f"{operation} lost the race and cannot rebase ({what}) — "
                f"replan the {operation} against the new table state"
            )
        seq2 = int(meta2.get("last-sequence-number") or 0) + 1
        snap_id2 = max((s["snapshot-id"] for s in snaps2), default=0) + 1
        return meta2, snaps2, seq2, snap_id2

    @staticmethod
    def _commit_basis(m: dict) -> tuple:
        """Commit-relevant metadata identity for the staleness gate (see
        :meth:`_commit_snapshot`): fields every interfering commit
        changes and no planning caller pre-mutates (callers DO
        pre-mutate format-version / next-row-id for in-commit
        upgrades, so those stay out)."""
        return (
            m.get("current-snapshot-id"),
            m.get("last-sequence-number"),
            len(m.get("snapshots") or []),
            m.get("current-schema-id"),
            m.get("default-spec-id"),
            json.dumps(m.get("refs") or {}, sort_keys=True),
            json.dumps(m.get("properties") or {}, sort_keys=True),
        )

    def _commit_snapshot(
        self,
        meta: dict,
        snaps: list[dict],
        snap_id: int,
        seq: int,
        list_rows: list[dict],
        operation: str,
        now: int,
        summary_extra: dict | None = None,
        branch: str | None = None,
    ) -> int:
        """Write the manifest list + ``v<N>.metadata.json`` for one new
        snapshot (O_EXCL commit — a concurrent writer loses loudly).
        Returns ``snap_id``. A lost commit leaves no manifest list
        behind: the staleness gate runs before it is written, and a lost
        O_EXCL race removes it."""
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        lpath = os.path.join(self.meta_dir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
        # standard snapshot summary metrics (spec 'Snapshots' — the
        # fields every engine's UI/planner reads): added data files and
        # records, summed from the manifests THIS snapshot added —
        # bounded by the change, never a walk of the whole tree
        added_files = added_records = 0
        for r in list_rows:
            if r.get("added_snapshot_id") != snap_id or (r.get("content") or 0) != 0:
                continue
            try:
                _, m_entries = read_ocf(self._resolve(r["manifest_path"]))
            except (OSError, ValueError):
                continue
            for e in m_entries:
                if e.get("status") == 1:
                    added_files += 1
                    added_records += int(
                        e["data_file"].get("record_count") or 0
                    )
        std_summary = {
            "added-data-files": str(added_files),
            "added-records": str(added_records),
        }
        try:
            mfile = self._metadata_file()
            stem = os.path.basename(mfile)[: -len(".metadata.json")]
            if stem.startswith("v") and stem[1:].isdigit():
                next_version, catalog_style = int(stem[1:]) + 1, False
            else:
                next_version, catalog_style = int(stem.split("-", 1)[0]) + 1, True
            # staleness gate: the version is derived from the CURRENT
            # newest file, but new_meta is built from the CALLER's meta —
            # if another writer advanced the table since that meta was
            # read, committing would silently ERASE its commit (classic
            # lost update). Compare the commit-relevant basis (head,
            # sequence, snapshot count, schema/spec ids, refs,
            # properties — fields a planning caller never pre-mutates)
            # and lose LOUDLY instead; append(retries=…) rebases.
            with open(mfile, encoding="utf-8") as fh:
                cur = json.load(fh)
            if self._commit_basis(cur) != self._commit_basis(meta):
                raise RuntimeError(
                    "Iceberg commit lost the race: table metadata advanced "
                    f"since this {operation} was planned — retry the {operation}"
                )
        except (FileNotFoundError, ValueError):
            next_version, catalog_style = 1, False
        # a branch commit moves ONLY the branch ref; main stays put —
        # the WAP/audit isolation contract (spec: 'Refs')
        parent = (
            (meta.get("refs") or {}).get(branch, {}).get("snapshot-id")
            if branch is not None
            else meta.get("current-snapshot-id")
        )
        # v3 row lineage: a staging pass may have sliced the row-id
        # counter (see _stage_data_entries) — the snapshot records its
        # first-row-id and the table's next-row-id advances in the SAME
        # atomic metadata commit. Popped unconditionally so a stale
        # pending from an aborted op can never leak into a later commit.
        pending_lineage = getattr(self, "_pending_row_lineage", None)
        self._pending_row_lineage = None
        lineage_on = pending_lineage is not None and "next-row-id" in meta
        new_meta = {
            **meta,
            **({"next-row-id": pending_lineage[1]} if lineage_on else {}),
            "last-sequence-number": seq,
            "last-updated-ms": now,
            **(
                {"refs": {**(meta.get("refs") or {}), branch: {"snapshot-id": snap_id, "type": "branch"}}}
                if branch is not None
                else {
                    "current-snapshot-id": snap_id,
                    # spec 'Table Metadata' snapshot-log: every time a
                    # snapshot becomes current it gets a log entry —
                    # the <table>.history metadata table reads THIS
                    "snapshot-log": [
                        *(meta.get("snapshot-log") or []),
                        {"timestamp-ms": now, "snapshot-id": snap_id},
                    ],
                }
            ),
            "snapshots": [
                *snaps,
                {
                    "snapshot-id": snap_id,
                    **(
                        {"parent-snapshot-id": parent}
                        if snaps and parent not in (None, -1)
                        else {}
                    ),
                    **({"first-row-id": pending_lineage[0]} if lineage_on else {}),
                    "sequence-number": seq,
                    "timestamp-ms": now,
                    "manifest-list": lpath,
                    "summary": {
                        "operation": operation,
                        **std_summary,
                        **(summary_extra or {}),
                    },
                },
            ],
        }
        if catalog_style:
            mname = f"{next_version:05d}-{_uuid.uuid4()}.metadata.json"
        else:
            mname = f"v{next_version}.metadata.json"
        target = os.path.join(self.meta_dir, mname)
        write_ocf(lpath, self._MANIFEST_LIST_SCHEMA, list_rows)
        try:
            publish_exclusive(target, json.dumps(new_meta))
        except FileExistsError:
            os.remove(lpath)
            raise RuntimeError(
                f"Iceberg commit {mname} was taken by a concurrent writer; "
                f"staged files are uncommitted — retry the {operation}"
            ) from None
        if not catalog_style:
            _write_version_hint(self.meta_dir, next_version)
        return snap_id

    # ------------------------------------------------ metadata tables

    def partitions_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.partitions`` metadata table: per partition
        tuple — record count, file count, total bytes — aggregated
        from manifest entries ONLY (the layout-audit query that would
        otherwise be a full groupBy scan of the data; here it reads
        KBs of Avro however large the table)."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        meta = self.metadata()
        snaps = meta.get("snapshots") or []
        sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        agg: dict[str, list[int]] = {}
        snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
        if snap is not None:
            _, manifests = read_ocf(self._resolve(snap["manifest-list"]))
            for m in manifests:
                _, entries = read_ocf(self._resolve(m["manifest_path"]))
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    df_rec = e["data_file"]
                    if int(df_rec.get("content") or 0) != 0:
                        continue  # delete files don't belong to data partitions
                    pv = df_rec.get("partition")
                    key = json.dumps(pv, sort_keys=True, default=str) if pv else "{}"
                    got = agg.setdefault(key, [0, 0, 0])
                    got[0] += int(df_rec.get("record_count") or 0)
                    got[1] += 1
                    got[2] += int(df_rec.get("file_size_in_bytes") or 0)
        return self.spark.createDataFrame(
            [(k, *v) for k, v in sorted(agg.items())],
            "partition STRING, record_count LONG, file_count LONG, "
            "total_size_bytes LONG",
        )

    def entries_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.entries`` metadata table: one row per manifest
        ENTRY of the snapshot — status (0 existing / 1 added /
        2 deleted), owning snapshot, data sequence (inherited from the
        manifest-list row when null, the spec's rule), content class,
        file path/size/rows and first_row_id — the debugging view the
        other metadata tables aggregate away. Driver-side KB Avro walk,
        never a data scan."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        meta = self.metadata()
        snaps = meta.get("snapshots") or []
        sid = (
            snapshot_id
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        rows = []
        snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
        if snap is not None:
            _, manifests = read_ocf(self._resolve(snap["manifest-list"]))
            for m in manifests:
                m_seq = m.get("sequence_number") or 0
                _, entries = read_ocf(self._resolve(m["manifest_path"]))
                for e in entries:
                    df_rec = e["data_file"]
                    seq = e.get("sequence_number")
                    rows.append(
                        (
                            int(e.get("status") or 0),
                            e.get("snapshot_id"),
                            int(m_seq if seq is None else seq),
                            int(df_rec.get("content") or 0),
                            df_rec["file_path"],
                            int(df_rec.get("record_count") or 0),
                            int(df_rec.get("file_size_in_bytes") or 0),
                            df_rec.get("first_row_id"),
                        )
                    )
        return self.spark.createDataFrame(
            rows,
            "status INT, snapshot_id LONG, sequence_number LONG, "
            "content INT, file_path STRING, record_count LONG, "
            "file_size_in_bytes LONG, first_row_id LONG",
        )

    def write_partition_stats(self, snapshot_id: int | None = None) -> dict:
        """PARTITION STATISTICS file (spec 'Partition Statistics'): the
        per-partition rollup :meth:`partitions_df` computes from
        manifests is PERSISTED as one parquet file under ``metadata/``
        and registered in table metadata ``partition-statistics``
        (snapshot-pinned, like the NDV stats files) — so planners and
        catalogs read ONE footer instead of walking manifests, and the
        stats survive manifest rewrites. Idempotent per snapshot
        (re-registering replaces the entry). Returns the registry
        entry."""
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = self.metadata()
        sid = (
            snapshot_id
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        if sid in (None, -1):
            raise ValueError("table has no snapshot to compute partition stats for")
        rows = self.partitions_df(sid).collect()
        tbl = pa.table(
            {
                "partition": [r["partition"] for r in rows],
                "spec_id": [int(meta.get("default-spec-id") or 0)] * len(rows),
                "data_record_count": [r["record_count"] for r in rows],
                "data_file_count": [r["file_count"] for r in rows],
                "total_data_file_size_in_bytes": [r["total_size_bytes"] for r in rows],
            },
            schema=pa.schema(
                [
                    ("partition", pa.string()),
                    ("spec_id", pa.int32()),
                    ("data_record_count", pa.int64()),
                    ("data_file_count", pa.int64()),
                    ("total_data_file_size_in_bytes", pa.int64()),
                ]
            ),
        )
        path = os.path.join(
            self.meta_dir, f"partition-stats-{sid}-{_uuid.uuid4().hex}.parquet"
        )
        pq.write_table(tbl, path)
        entry = {
            "snapshot-id": sid,
            "statistics-path": path,
            "file-size-in-bytes": os.path.getsize(path),
        }
        reg = [
            e
            for e in (meta.get("partition-statistics") or [])
            if e.get("snapshot-id") != sid
        ] + [entry]
        self._write_metadata({**meta, "partition-statistics": reg})
        return entry

    def partition_stats_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Read the REGISTERED partition-statistics file for the
        snapshot (one parquet footer — no manifest walk); falls back to
        the live :meth:`partitions_df` rollup when none is registered."""
        meta = self.metadata()
        sid = (
            snapshot_id
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        entry = next(
            (
                e
                for e in (meta.get("partition-statistics") or [])
                if e.get("snapshot-id") == sid
            ),
            None,
        )
        if entry is None:
            return self.partitions_df(snapshot_id)
        return (
            self.spark.read.parquet(self._resolve(entry["statistics-path"]))
            .select(
                "partition",
                F.col("data_record_count").alias("record_count"),
                F.col("data_file_count").alias("file_count"),
                F.col("total_data_file_size_in_bytes").alias("total_size_bytes"),
            )
        )

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``<table>.files`` metadata table: one row per LIVE
        content file of the snapshot — data files (``content=0``),
        position-delete files (1) and equality-delete files (2) — with
        record count, size, partition tuple (JSON), sequence number
        and spec id, decoded from the Avro manifests ONLY (KBs of
        metadata however large the data; the small-file / delete-debt
        audit that drives OPTIMIZE targeting). Spec divergence, by
        design: column-level stats maps are omitted (they live in the
        add-action stats the engine's pruner consumes)."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        meta = self.metadata()
        sid = (
            snapshot_id
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        snap = next(
            (s for s in meta.get("snapshots") or [] if s["snapshot-id"] == sid),
            None,
        )
        rows: list[tuple] = []
        if snap is not None:
            _, manifests = read_ocf(self._resolve(snap["manifest-list"]))
            for m in manifests:
                m_seq = m.get("sequence_number") or 0
                _, entries = read_ocf(self._resolve(m["manifest_path"]))
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    d = e["data_file"]
                    pv = d.get("partition")
                    rows.append(
                        (
                            int(d.get("content") or 0),
                            self._resolve(d["file_path"]),
                            str(d.get("file_format") or "PARQUET"),
                            json.dumps(pv, sort_keys=True, default=str)
                            if pv
                            else "{}",
                            int(d.get("record_count") or 0),
                            int(d.get("file_size_in_bytes") or 0),
                            int(
                                e.get("sequence_number")
                                if e.get("sequence_number") is not None
                                else m_seq
                            ),
                            int(m.get("partition_spec_id") or 0),
                            d.get("sort_order_id"),
                        )
                    )
        return self.spark.createDataFrame(
            sorted(rows, key=lambda r: (r[0], r[1])),
            "content INT, file_path STRING, file_format STRING, "
            "partition STRING, record_count LONG, file_size_in_bytes LONG, "
            "sequence_number LONG, spec_id INT, sort_order_id INT",
        )

    def all_files_df(self) -> DataFrame:
        """The ``<table>.all_files`` metadata table: every content file
        referenced by ANY snapshot (the cross-snapshot audit surface —
        orphan triage, retention planning, storage accounting), with
        the set of snapshots referencing each file collapsed to
        ``n_snapshots`` + first/last ids. Decoded from Avro manifests
        only; a file rewritten away still appears here until
        :meth:`expire_snapshots` drops its last referencing snapshot."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        meta = self.metadata()
        per_file: dict[tuple, list[int]] = {}
        seen_lists: dict[str, list] = {}
        for snap in meta.get("snapshots") or []:
            lp = self._resolve(snap["manifest-list"])
            if lp not in seen_lists:
                seen_lists[lp] = read_ocf(lp)[1]
            for m in seen_lists[lp]:
                _, entries = read_ocf(self._resolve(m["manifest_path"]))
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    d = e["data_file"]
                    key = (
                        int(d.get("content") or 0),
                        self._resolve(d["file_path"]),
                        int(d.get("record_count") or 0),
                        int(d.get("file_size_in_bytes") or 0),
                    )
                    per_file.setdefault(key, []).append(int(snap["snapshot-id"]))
        rows = [
            (*key, len(set(sids)), min(sids), max(sids))
            for key, sids in sorted(per_file.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "content INT, file_path STRING, record_count LONG, "
            "file_size_in_bytes LONG, n_snapshots INT, "
            "first_snapshot_id LONG, last_snapshot_id LONG",
        )

    def refs_df(self) -> DataFrame:
        """The ``<table>.refs`` metadata table: one row per named ref
        (plus the implicit ``main`` head) with type and pinned
        snapshot — the branch/tag audit surface."""
        meta = self.metadata()
        rows = [("main", "branch", int(meta.get("current-snapshot-id") or -1))]
        for name, r in sorted((meta.get("refs") or {}).items()):
            rows.append((name, str(r.get("type")), int(r.get("snapshot-id"))))
        return self.spark.createDataFrame(
            rows, "name STRING, type STRING, snapshot_id LONG"
        )

    def all_manifests_df(self) -> DataFrame:
        """The ``<table>.all_manifests`` metadata table: one row per
        (snapshot, manifest) pairing across the whole snapshot list —
        the manifest-reuse audit (how much metadata each commit shares
        with its parent; a commit that rewrites every manifest is the
        smell rewrite_manifests exists to fix)."""
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        rows: list[tuple] = []
        seen_lists: dict[str, list] = {}
        for snap in self.metadata().get("snapshots") or []:
            lp = self._resolve(snap["manifest-list"])
            if lp not in seen_lists:
                seen_lists[lp] = read_ocf(lp)[1]
            for m in seen_lists[lp]:
                rows.append(
                    (
                        int(snap["snapshot-id"]),
                        self._resolve(m["manifest_path"]),
                        int(m.get("manifest_length") or 0),
                        int(m.get("partition_spec_id") or 0),
                        int(m.get("content") or 0),
                        int(m.get("sequence_number") or 0),
                        int(m.get("added_snapshot_id") or 0),
                    )
                )
        return self.spark.createDataFrame(
            sorted(rows),
            "snapshot_id LONG, manifest_path STRING, manifest_length LONG, "
            "partition_spec_id INT, content INT, sequence_number LONG, "
            "added_snapshot_id LONG",
        )

    def history_df(self) -> DataFrame:
        """The ``<table>.history`` metadata table: one row per time a
        snapshot became current (the ``snapshot-log``), with
        ``is_current_ancestor`` telling overwritten lines of history
        (rolled-past snapshots) from the current lineage — how an
        auditor distinguishes 'data the table served at t' from 'data
        on the current branch'. Peer-written logs without a
        snapshot-log fall back to the snapshots list. Timestamps are
        exposed as epoch-ms LONGs (session-timezone-proof), a
        documented divergence from Iceberg's TIMESTAMP column."""
        meta = self.metadata()
        snaps = meta.get("snapshots") or []
        by_id = {s["snapshot-id"]: s for s in snaps}
        log = meta.get("snapshot-log") or [
            {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]}
            for s in snaps
        ]
        anc: set[int] = set()
        cur = meta.get("current-snapshot-id")
        while cur in by_id and cur not in anc:
            anc.add(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        rows = [
            (
                int(e["timestamp-ms"]),
                int(e["snapshot-id"]),
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in anc,
            )
            for e in log
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms LONG, snapshot_id LONG, parent_id LONG, "
            "is_current_ancestor BOOLEAN",
        )

    def snapshots_df(self) -> DataFrame:
        """The ``<table>.snapshots`` metadata table: every snapshot in
        the log — committed-at (epoch ms), id, parent, operation,
        manifest-list path, summary (JSON) — the raw material for
        retention decisions (:meth:`expire_snapshots`) and commit
        forensics."""
        rows = [
            (
                int(s["timestamp-ms"]),
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                str((s.get("summary") or {}).get("operation") or ""),
                self._resolve(s["manifest-list"]),
                json.dumps(s.get("summary") or {}, sort_keys=True),
            )
            for s in self.metadata().get("snapshots") or []
        ]
        return self.spark.createDataFrame(
            rows,
            "committed_at_ms LONG, snapshot_id LONG, parent_id LONG, "
            "operation STRING, manifest_list STRING, summary STRING",
        )

    def write_ndv_stats(self, columns: list[str], k: int = 1024) -> dict:
        """Table statistics files (Iceberg spec 'Table statistics' —
        the Puffin ``apache-datasketches-theta-v1`` NDV blobs, here a
        KMV sketch with the same contract): per-column distinct-value
        ESTIMATES computed in ONE distributed pass, serialized to a
        sidecar under ``metadata/`` and referenced from table metadata
        ``statistics`` pinned to the CURRENT snapshot id — the
        cost-based-optimizer input (join reordering, broadcast
        decisions) that costs KBs to keep however large the table.

        Sketch: k-minimum-values over ``xxhash64`` normalized to
        [0, 1); NDV ≈ (k−1)/kth-min with relative standard error
        ≈ 1/√(k−2) (~3.1% at k=1024); exact below k distinct hashes
        (NULL hashes like any other value — one NDV unit, the sketch
        convention). Distributed shape: ONE scan hashes every column
        JVM-side, an Arrow ``mapInPandas`` pass keeps each
        partition's k smallest DISTINCT hashes per column (bounded
        k·partitions·columns rows leave the executors), and a final
        per-column top-k over that sliver picks the global minima —
        no global distinct, no per-column job. Returns
        ``{column: estimate}``."""
        from pyspark.sql import Window as _W

        meta = self.metadata()
        sid = meta.get("current-snapshot-id")
        if sid in (None, -1):
            raise ValueError("write_ndv_stats needs a current snapshot")
        df = self.read()
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"ndv stats over unknown columns {missing}")
        cols = list(columns)
        hashed = df.select(
            *[
                ((F.xxhash64(F.col(c)).cast("double") / F.lit(float(2**64))) + 0.5).alias(c)
                for c in cols
            ]
        )
        kk = int(k)

        def minima(batches):
            import numpy as np
            import pandas as pd

            best: dict = {c: None for c in cols}
            for pdf in batches:
                for c in cols:
                    v = pdf[c].to_numpy()
                    cur = v if best[c] is None else np.concatenate([best[c], v])
                    cur = np.unique(cur)  # sorted distinct
                    best[c] = cur[:kk]
            out_c: list = []
            out_u: list = []
            for c in cols:
                if best[c] is not None:
                    out_c.extend([c] * len(best[c]))
                    out_u.extend(float(x) for x in best[c])
            yield pd.DataFrame({"col": out_c, "u": out_u})

        mins = hashed.mapInPandas(minima, "col string, u double")
        w = _W.partitionBy("col").orderBy("u")
        ranked = (
            mins.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= kk)
            .groupBy("col")
            .agg(F.max("u").alias("kth"), F.count("*").alias("n"))
        )
        stats: dict[str, dict] = {}
        for r in ranked.collect():
            n, kth = int(r["n"]), float(r["kth"] or 1.0)
            est = n if n < kk else int(round((kk - 1) / kth))
            stats[r["col"]] = {"ndv": est, "k": kk, "n_mins": n, "kth": kth}
        for c in cols:  # columns absent from an empty scan
            stats.setdefault(c, {"ndv": 0, "k": kk, "n_mins": 0, "kth": 1.0})
        path = os.path.join(self.meta_dir, f"stats-{sid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"snapshot-id": int(sid), "ndv": stats}, fh)
        os.replace(tmp, path)
        entries = [
            s for s in (meta.get("statistics") or [])
            if s.get("snapshot-id") != sid
        ]
        entries.append(
            {
                "snapshot-id": int(sid),
                "statistics-path": path,
                "file-size-in-bytes": os.path.getsize(path),
            }
        )
        self._write_metadata({**meta, "statistics": entries})
        return {c: v["ndv"] for c, v in stats.items()}

    def ndv_estimates(self, snapshot_id: int | None = None) -> dict:
        """NDV estimates from the statistics file pinned to the given
        (default current) snapshot — a metadata read, no data scan.
        Raises when no statistics file covers the snapshot (stats are
        snapshot-scoped: a new commit needs a new stats pass)."""
        meta = self.metadata()
        sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        entry = next(
            (s for s in (meta.get("statistics") or []) if s.get("snapshot-id") == sid),
            None,
        )
        if entry is None:
            raise ValueError(f"no statistics file for snapshot {sid}")
        with open(entry["statistics-path"]) as fh:
            blob = json.load(fh)
        return {c: int(v["ndv"]) for c, v in blob["ndv"].items()}

    def txn_version(self, app_id: str) -> int:
        """Latest committed batch id for an idempotent writer, read
        from snapshot summaries (the Flink-connector pattern: commit
        metadata rides the snapshot; a replayed micro-batch is detected
        by its batch id being ≤ the watermark). −1 when none."""
        best = -1
        for s in self.metadata().get("snapshots") or []:
            summ = s.get("summary") or {}
            if summ.get("app-id") == app_id and "batch-id" in summ:
                best = max(best, int(summ["batch-id"]))
        return best

    # ------------------------------------------------ v3 row lineage

    def enable_row_lineage(self) -> None:
        """Upgrade the table to v3 ROW LINEAGE (spec 'Row Lineage'):
        metadata gains ``next-row-id``; every subsequent data-adding
        commit slices that counter across its new files (entry
        ``first_row_id``, snapshot ``first-row-id``) so each row has a
        stable ``_row_id = first_row_id + position`` and a
        ``_last_updated_sequence_number`` (its file's data sequence).
        Files written BEFORE the upgrade keep null lineage (readers
        surface NULL ids — the spec's upgrade rule). Metadata-only,
        idempotent, O_EXCL-committed."""
        meta = self.metadata()
        if "next-row-id" in meta:
            return
        self._write_metadata(
            {**meta, "format-version": 3, "next-row-id": 0}
        )

    def _first_row_ids(self, snapshot_id: int | None = None) -> dict[str, int | None]:
        """Per live data file: ``first_row_id`` (None = pre-lineage file
        or a preserving rewrite carrying materialized ids). Driver-side
        manifest walk, O(entries) — the same weight as _files_full."""
        meta = self.metadata()
        snaps = meta.get("snapshots") or []
        if snapshot_id is None:
            snapshot_id = meta.get("current-snapshot-id")
        snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            return {}
        out: dict[str, int | None] = {}
        _, manifests = read_ocf(self._resolve(snap["manifest-list"]))
        for m in manifests:
            _, entries = read_ocf(self._resolve(m["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:
                    continue
                df_rec = e["data_file"]
                if (df_rec.get("content") or 0) != 0:
                    continue
                out[self._resolve(df_rec["file_path"])] = df_rec.get("first_row_id")
        return out

    def _lineage_ext_schema(self, schema: T.StructType) -> T.StructType:
        """Table schema + the two v3 lineage metadata columns (nullable
        — files that never materialized them read NULL for free)."""
        return T.StructType(
            list(schema.fields)
            + [
                T.StructField("_row_id", T.LongType(), True),
                T.StructField("_last_updated_sequence_number", T.LongType(), True),
            ]
        )

    def _lineage_scan_cols(
        self,
        scan: DataFrame,
        files_seq: dict[str, int],
        frids: dict[str, int | None],
    ) -> DataFrame:
        """Resolve the lineage columns on a ``_scan_with_pos`` result:
        broadcast-join the per-file dim (path → first_row_id, data
        sequence) and ``coalesce(materialized, first_row_id + pos)`` /
        ``coalesce(materialized, file sequence)`` in codegen. O(files)
        driver metadata; the scan itself stays one plan."""
        dim = self.spark.createDataFrame(
            [(p, frids.get(p), s) for p, s in files_seq.items()],
            "file_path string, _frid long, _fseq long",
        )
        return (
            scan.join(F.broadcast(dim), "file_path")
            .withColumn(
                "_row_id",
                F.coalesce(F.col("_row_id"), F.col("_frid") + F.col("pos")),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(
                    F.col("_last_updated_sequence_number"), F.col("_fseq")
                ),
            )
            .drop("_frid", "_fseq")
        )

    def read_with_lineage(self, snapshot_id: int | None = None) -> DataFrame:
        """Scan with the v3 row-lineage metadata columns attached:
        table columns + ``_row_id`` + ``_last_updated_sequence_number``.

        Spark-first shape: ONE scan of all live data files with the two
        lineage columns in the read schema (files that never
        materialized them — the common case — read NULL for free), then
        a BROADCAST join against the per-file lineage dim (path →
        first_row_id, sequence) and
        ``coalesce(materialized, first_row_id + position)`` in codegen.
        Deletes (position files, v3 DVs, equality deletes with the
        sequence rule) are applied by the shared :meth:`_scan_with_pos`
        — surviving rows keep their ORIGINAL positions, so ids are
        stable under any soft delete. O(files) driver metadata, no
        per-file plan branches — the layout scales like a plain scan."""
        meta = self.metadata()
        if "next-row-id" not in meta:
            raise ValueError(
                "row lineage is not enabled on this table — call "
                "enable_row_lineage() first"
            )
        schema = self.schema(meta)
        ext = self._lineage_ext_schema(schema)
        data, pos_deletes, eq_deletes, dvs = self._files_full(snapshot_id)
        if not data:
            return self.spark.createDataFrame([], ext)
        seq_of = {p: s for p, s, _ in data}
        scan = self._scan_with_pos(
            ext,
            [p for p, _, _ in data],
            pos_deletes,
            eq_deletes=eq_deletes or None,
            seq_of=seq_of if eq_deletes else None,
            dvs=dvs or None,
        )
        out = self._lineage_scan_cols(scan, seq_of, self._first_row_ids(snapshot_id))
        return out.select(
            *[f.name for f in schema.fields],
            "_row_id",
            "_last_updated_sequence_number",
        )

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        _replace: bool = False,
        branch: str | None = None,
        retries: int = 0,
        _basis_meta: dict | None = None,
    ) -> int:
        """Iceberg v2 WRITE interop (VERDICT r5 missing #4): stage
        ``df`` as parquet data files, emit an Avro manifest (entries
        carry footer-sourced record counts, little-endian lower/upper
        bounds, and the identity partition tuple, so this engine's own
        reads file-skip on BOTH), a manifest list reusing the prior
        snapshot's manifests, and a new ``v<N>.metadata.json`` with the
        appended snapshot — committed with O_EXCL so a concurrent
        writer loses loudly. Creates the table when the path holds none
        (field ids 1..n; identity partition spec over ``partition_by``,
        partition field ids 1000+). Returns the new snapshot id.

        Partitioned staging follows the spec's invariants: each data file
        belongs to exactly ONE partition tuple (hive-style staging dirs
        guarantee it) and — unlike Hive — the partition columns remain
        IN the data files, so reads need no literal re-attachment and
        external readers see complete rows.

        Spark-first shape: data lands via one distributed
        ``df.write.parquet``; only footer metadata is read back on the
        driver (no data scan)."""
        staged = self._plan_append(
            df,
            partition_by=partition_by,
            txn=txn,
            _replace=_replace,
            branch=branch,
            _basis_meta=_basis_meta,
        )
        return self._commit_planned_append(staged, retries=retries)

    def _plan_append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        _replace: bool = False,
        branch: str | None = None,
        _basis_meta: dict | None = None,
    ) -> dict:
        """Staging half of :meth:`append`: validate the frame against
        the table, run the distributed parquet write + footer pass
        (``_stage_data_entries``), and return the planned commit state.
        Staging is the expensive, Spark-job half; it holds no lock and
        touches no table metadata, so independent appends may stage
        CONCURRENTLY (guide §2.6) on separate ``IcebergTable`` handles
        and then commit serially in version order via
        :meth:`_commit_planned_append` — the commit rebases row-id
        slices and snapshot ids over whatever landed in between."""
        import time
        import uuid as _uuid  # noqa: F401  (parity with commit half)

        exists = self.exists() and bool(
            [f for f in os.listdir(self.meta_dir) if f.endswith(".metadata.json")]
        ) if os.path.isdir(self.meta_dir) else False
        now = int(time.time() * 1000)
        if exists:
            # a REPLACE (compaction) caller pins the metadata basis it
            # PLANNED from: re-reading fresh metadata here would slide
            # the staleness gate past any commit that landed during the
            # caller's (expensive) rewrite, and the replace's manifest
            # list - built from the planned snapshot - would silently
            # erase that winner's rows (randomized-stress find, VERDICT
            # r12 item 3: a racing append vanished under compact()).
            meta = _basis_meta if _basis_meta is not None else self.metadata()
            ice_schema = self._ice_schema(meta)
            spark_schema = self.schema(meta)
            want = {f.name: f.dataType for f in spark_schema.fields}
            # v3 default values: columns the incoming frame omits are
            # filled with their write-default at write time (spec: the
            # writer, not the reader, owns post-evolution fills)
            wdefs = {
                f["name"]: f["write-default"]
                for f in ice_schema["fields"]
                if f.get("write-default") is not None
            }
            for n in [c for c in want if c not in df.columns and c in wdefs]:
                df = df.withColumn(n, F.lit(wdefs[n]).cast(want[n]))
            # v3 row lineage: a preserving rewrite (compact) appends the
            # table columns PLUS materialized _row_id /
            # _last_updated_sequence_number — metadata columns, never
            # part of the table schema; they ride into the data files.
            lineage_cols = [
                c for c in ROW_LINEAGE_COLS if c in df.columns and "next-row-id" in meta
            ]
            have = {
                f.name: f.dataType
                for f in df.schema.fields
                if f.name not in lineage_cols
            }
            if sorted(have) != sorted(want) or any(
                have[n] != t for n, t in want.items()
            ):
                raise ValueError(
                    f"append schema {df.schema.simpleString()} does not match "
                    f"table schema {spark_schema.simpleString()}"
                )
            df = df.select(*[f.name for f in spark_schema.fields], *lineage_cols)
            part_fields = self.partition_fields(meta)
            names = self.field_names_by_id(meta)
            spec_cols = [_canonical_spec(pf, names) for pf in part_fields]
            if partition_by is not None and [
                p.replace(" ", "") for p in partition_by
            ] != [s.replace(" ", "") for s in spec_cols]:
                raise ValueError(
                    f"append partition_by={partition_by} does not match the "
                    f"table's partition spec {spec_cols}"
                )
            snaps = list(meta.get("snapshots") or [])
            seq = int(meta.get("last-sequence-number") or 0) + 1
            snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        else:
            os.makedirs(self.meta_dir, exist_ok=True)
            fields = []
            for i, f in enumerate(df.schema.fields):
                fields.append(
                    {
                        "id": i + 1,
                        "name": f.name,
                        "required": False,
                        "type": _spark_to_iceberg(f.dataType),
                    }
                )
            ice_schema = {"schema-id": 0, "type": "struct", "fields": fields}
            by_name = {f["name"]: f["id"] for f in fields}
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            part_fields = self._parse_partition_fields(
                partition_by, by_name, dtypes, 1000
            )
            spec_cols = list(partition_by or [])
            meta = {
                "format-version": 2,
                "table-uuid": str(_uuid.uuid4()),
                "location": self.path,
                "last-sequence-number": 0,
                "last-updated-ms": now,
                "last-column-id": len(fields),
                "schemas": [ice_schema],
                "current-schema-id": 0,
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": part_fields}],
                "last-partition-id": 999 + len(part_fields),
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "current-snapshot-id": -1,
                "snapshots": [],
            }
            snaps = []
            seq, snap_id = 1, 1
        # staging (distributed write + footer-only stats) is shared
        # with update()/merge() — see _stage_data_entries. When the
        # table carries a default sort order, sort WITHIN each task's
        # partition (local sort, no extra shuffle) and stamp the
        # order's id on the staged files (spec data_file field 140).
        order_id, order_cols = (
            self.default_sort_order(meta) if exists else (0, [])
        )
        if order_cols:
            df = df.sortWithinPartitions(*order_cols)
        entries = self._stage_data_entries(
            df, ice_schema, part_fields, spec_cols, snap_id,
            sort_order_id=order_id if order_cols else None,
        )
        if branch is not None:
            if _replace:
                raise ValueError("branch overwrite is not supported")
            ref = (meta.get("refs") or {}).get(branch) if exists else None
            if ref is None or ref.get("type") != "branch":
                raise ValueError(
                    f"branch {branch!r} does not exist — create it with "
                    "set_ref(name, ref_type='branch') first"
                )
        summary_extra = (
            {"app-id": str(txn[0]), "batch-id": str(int(txn[1]))}
            if txn is not None
            else None
        )
        schema_id = int(meta.get("current-schema-id") or 0)
        return {
            "meta": meta,
            "snaps": snaps,
            "seq": seq,
            "snap_id": snap_id,
            "entries": entries,
            "ice_schema": ice_schema,
            "part_fields": part_fields,
            "branch": branch,
            "summary_extra": summary_extra,
            "replace": _replace,
            "schema_id": schema_id,
            # captured so a later staging on this handle (or the
            # commit's own rebase) cannot clobber this plan's slice
            "pending_lineage": getattr(self, "_pending_row_lineage", None),
        }

    def _commit_planned_append(self, staged: dict, retries: int = 0) -> int:
        """Commit half of :meth:`append` — rebases over concurrent
        commits on conflict (fast-append semantics, Iceberg's retryable
        operation, the twin of DeltaLogTable.write_with_retry): a blind
        append conflicts with NOTHING logically, so on a lost O_EXCL
        race the staged DATA files are reused as-is and only the
        metadata re-derives — fresh snapshot/sequence ids, prior
        manifests from the NEW head, entries re-stamped (snapshot id,
        and re-sliced row-id ranges when lineage is on — the winner may
        have consumed the counter), one new KB-sized manifest file. A
        REPLACE (compaction) is snapshot-planned and still loses
        loudly, as does schema drift during the race. Each attempt
        stamps its own commit time, so a plan committed after later
        snapshots never carries an earlier timestamp than they do, and
        a lost attempt removes the manifest it wrote."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        meta = staged["meta"]
        snaps = staged["snaps"]
        seq = staged["seq"]
        snap_id = staged["snap_id"]
        entries = staged["entries"]
        ice_schema = staged["ice_schema"]
        part_fields = staged["part_fields"]
        branch = staged["branch"]
        summary_extra = staged["summary_extra"]
        _replace = staged["replace"]
        schema_id = staged["schema_id"]
        self._pending_row_lineage = staged["pending_lineage"]
        attempts = 1 if _replace or retries <= 0 else retries + 1
        for attempt in range(attempts):
            if attempt > 0:
                meta = self.metadata()
                if int(meta.get("current-schema-id") or 0) != schema_id:
                    raise RuntimeError(
                        "append retry aborted: table schema changed during the race"
                    )
                snaps = list(meta.get("snapshots") or [])
                seq = int(meta.get("last-sequence-number") or 0) + 1
                snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
                self._assign_entry_row_ids(entries)
                for e in entries:
                    e["snapshot_id"] = snap_id
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, self._manifest_schema(part_fields, ice_schema), entries)
            rows = (
                []
                if _replace
                else self._prior_manifest_rows(
                    meta,
                    snaps,
                    head_id=(
                        (meta.get("refs") or {})[branch]["snapshot-id"]
                        if branch is not None
                        else None
                    ),
                )
            )
            rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": int(meta.get("default-spec-id") or 0),
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
            try:
                return self._commit_snapshot(
                    meta, snaps, snap_id, seq, rows,
                    "replace" if _replace else "append", int(time.time() * 1000),
                    summary_extra=summary_extra,
                    branch=branch,
                )
            except RuntimeError:
                os.remove(mpath)
                if attempt == attempts - 1:
                    raise
        raise AssertionError("unreachable")

    @staticmethod
    def _parse_partition_fields(
        partition_by: list[str] | None,
        by_name: dict[str, int],
        dtypes: dict,
        first_field_id: int,
    ) -> list[dict]:
        """Parse ``partition_by`` spec strings — ``identity`` /
        ``truncate(w, col)`` / ``bucket(n, col)`` / ``day(col)`` — into
        Iceberg partition-spec field dicts with sequential field ids
        from ``first_field_id`` (spec: 'Partition Specs'). Shared by
        table creation and :meth:`evolve_spec`."""
        part_fields: list[dict] = []
        for i, c in enumerate(partition_by or []):
            hm = _HOUR_SPEC.match(c)
            if hm:
                src = hm.group(1)
                if src not in by_name:
                    raise ValueError(f"partition column {src!r} not in dataframe")
                # spec 'Partition Transforms': hour applies to
                # timestamps only — a date has no hour component. NTZ
                # is refused like the other temporal transforms: the
                # ordinal expr casts through double, which Spark
                # rejects for TIMESTAMP_NTZ (and an ntz wall-clock has
                # no epoch anchor without a zone)
                if not isinstance(dtypes[src], T.TimestampType):
                    raise NotImplementedError(
                        f"hour transform over {dtypes[src].simpleString()} — "
                        "only timestamp (with zone) sources are supported "
                        "(spec: hour is undefined for dates)"
                    )
                part_fields.append(
                    {
                        "name": f"{src}_hour",
                        "transform": "hour",
                        "source-id": by_name[src],
                        "field-id": first_field_id + i,
                    }
                )
                continue
            dm = _DAY_SPEC.match(c)
            if dm:
                src = dm.group(1)
                if src not in by_name:
                    raise ValueError(f"partition column {src!r} not in dataframe")
                if not isinstance(dtypes[src], (T.TimestampType, T.DateType)):
                    raise NotImplementedError(
                        f"day transform over {dtypes[src].simpleString()} — "
                        "only timestamp/date sources are supported"
                    )
                part_fields.append(
                    {
                        "name": f"{src}_day",
                        "transform": "day",
                        "source-id": by_name[src],
                        "field-id": first_field_id + i,
                    }
                )
                continue
            tmm = _MONTH_SPEC.match(c) or _YEAR_SPEC.match(c)
            if tmm:
                unit = "month" if _MONTH_SPEC.match(c) else "year"
                src = tmm.group(1)
                if src not in by_name:
                    raise ValueError(f"partition column {src!r} not in dataframe")
                if not isinstance(dtypes[src], (T.TimestampType, T.DateType)):
                    raise NotImplementedError(
                        f"{unit} transform over {dtypes[src].simpleString()} — "
                        "only timestamp/date sources are supported"
                    )
                part_fields.append(
                    {
                        "name": f"{src}_{unit}",
                        "transform": unit,
                        "source-id": by_name[src],
                        "field-id": first_field_id + i,
                    }
                )
                continue
            tm = _TRUNC_SPEC.match(c)
            if tm:
                w, src = int(tm.group(1)), tm.group(2)
                if src not in by_name:
                    raise ValueError(f"partition column {src!r} not in dataframe")
                if not isinstance(
                    dtypes[src], (T.IntegerType, T.LongType, T.StringType)
                ):
                    raise NotImplementedError(
                        f"truncate transform over {dtypes[src].simpleString()} — "
                        "only int/long/string sources are supported"
                    )
                if w <= 0:
                    raise ValueError(f"truncate width must be positive, got {w}")
                part_fields.append(
                    {
                        "name": f"{src}_trunc",
                        "transform": f"truncate[{w}]",
                        "source-id": by_name[src],
                        "field-id": first_field_id + i,
                    }
                )
                continue
            bm = _BUCKET_SPEC.match(c)
            if bm:
                n, src = int(bm.group(1)), bm.group(2)
                if src not in by_name:
                    raise ValueError(f"partition column {src!r} not in dataframe")
                if not isinstance(
                    dtypes[src], (T.IntegerType, T.LongType, T.StringType)
                ):
                    raise NotImplementedError(
                        f"bucket transform over {dtypes[src].simpleString()} — "
                        "only int/long/string sources are supported"
                    )
                if n <= 0:
                    raise ValueError(f"bucket width must be positive, got {n}")
                part_fields.append(
                    {
                        "name": f"{src}_bucket",
                        "transform": f"bucket[{n}]",
                        "source-id": by_name[src],
                        "field-id": first_field_id + i,
                    }
                )
                continue
            if c not in by_name:
                raise ValueError(f"partition column {c!r} not in dataframe")
            part_fields.append(
                {
                    "name": c,
                    "transform": "identity",
                    "source-id": by_name[c],
                    "field-id": first_field_id + i,
                }
            )
        return part_fields

    def evolve_spec(self, partition_by: list[str]) -> int:
        """Partition-spec EVOLUTION (spec: 'Partition Evolution') — a
        METADATA-ONLY commit: a new spec is appended to
        ``partition-specs`` and made the default, with NO data rewrite
        and no snapshot. Files already written keep their old layout
        (each manifest-list row names its spec id; :meth:`_files`
        interprets every manifest's partition tuples under THAT spec),
        new appends stage under the new layout — the contract that
        makes re-partitioning a 100 TB table an O(1) operation.

        Fields identical to one in ANY existing spec (same source-id +
        transform) reuse its field-id and name; genuinely new fields
        get fresh ids after ``last-partition-id``. A new field whose
        derived name collides with a DIFFERENT existing field is
        disambiguated with its field-id suffix, so tuple keys stay
        unambiguous across specs. Returns the new spec id."""
        meta = self.metadata()
        ice_schema = self._ice_schema(meta)
        by_name = {f["name"]: f["id"] for f in ice_schema["fields"]}
        dtypes = {
            f.name: f.dataType for f in self.schema(meta).fields
        }
        last_pid = int(meta.get("last-partition-id") or 999)
        parsed = self._parse_partition_fields(
            partition_by, by_name, dtypes, last_pid + 1
        )
        existing: dict[tuple, dict] = {}
        used_names: dict[str, tuple] = {}
        for sp in meta.get("partition-specs") or []:
            for pf in sp.get("fields") or []:
                key = (pf["source-id"], pf.get("transform"))
                existing.setdefault(key, pf)
                used_names.setdefault(pf["name"], key)
        fields = []
        next_id = last_pid
        for pf in parsed:
            key = (pf["source-id"], pf["transform"])
            prior = existing.get(key)
            if prior is not None:
                fields.append(dict(prior))
                continue
            next_id += 1
            name = pf["name"]
            if used_names.get(name, key) != key:
                name = f"{name}_{next_id}"
            fields.append({**pf, "name": name, "field-id": next_id})
            used_names[name] = key
        specs = list(meta.get("partition-specs") or [])
        new_spec_id = max((int(sp.get("spec-id") or 0) for sp in specs), default=-1) + 1
        specs.append({"spec-id": new_spec_id, "fields": fields})
        import time

        new_meta = {
            **meta,
            "partition-specs": specs,
            "default-spec-id": new_spec_id,
            "last-partition-id": max(next_id, last_pid),
            "last-updated-ms": int(time.time() * 1000),
        }
        self._write_metadata(new_meta)
        return new_spec_id

    def replace_sort_order(self, columns: list[str]) -> int:
        """Sort-order EVOLUTION (spec: 'Sort Orders' / the
        ``replace_sort_order`` API): register an identity-transform
        ascending sort order over ``columns`` and make it the table
        default — a METADATA-ONLY commit, no snapshot, no data rewrite.
        Existing files keep their (null / old) ``sort_order_id``;
        subsequent :meth:`append` writes sort rows WITHIN each staged
        file and stamp the new id, and :meth:`compact` with no explicit
        ``sort_by`` range-partitions on the order's columns so the
        rewritten files cover DISJOINT ranges — the write-side contract
        that turns min/max file skipping selective on the sort key.
        Re-registering an identical order returns the existing id
        (idempotent, as the spec's order-equivalence rule requires).
        Returns the order id."""
        import time

        meta = self.metadata()
        by_name = {f["name"]: f["id"] for f in self._ice_schema(meta)["fields"]}
        unknown = [c for c in columns if c not in by_name]
        if unknown:
            raise ValueError(f"sort order references unknown columns {unknown}")
        if not columns:
            raise ValueError("sort order needs at least one column — "
                             "order 0 is already the unsorted default")
        fields = [
            {
                "transform": "identity",
                "source-id": by_name[c],
                "direction": "asc",
                "null-order": "nulls-first",
            }
            for c in columns
        ]
        orders = list(meta.get("sort-orders") or [{"order-id": 0, "fields": []}])
        for o in orders:
            if (o.get("fields") or []) == fields:
                if int(meta.get("default-sort-order-id") or 0) != int(o["order-id"]):
                    self._write_metadata({
                        **meta,
                        "default-sort-order-id": int(o["order-id"]),
                        "last-updated-ms": int(time.time() * 1000),
                    })
                return int(o["order-id"])
        new_id = max(int(o.get("order-id") or 0) for o in orders) + 1
        orders.append({"order-id": new_id, "fields": fields})
        self._write_metadata({
            **meta,
            "sort-orders": orders,
            "default-sort-order-id": new_id,
            "last-updated-ms": int(time.time() * 1000),
        })
        return new_id

    def default_sort_order(self, meta: dict | None = None) -> tuple[int, list[str]]:
        """(order-id, column names) of the table's default sort order;
        (0, []) when unsorted. Only identity transforms are produced by
        :meth:`replace_sort_order`; orders written by other engines with
        non-identity transforms are reported with their id but no
        columns (writes then skip the sort rather than mis-sort)."""
        meta = meta or self.metadata()
        oid = int(meta.get("default-sort-order-id") or 0)
        names = self.field_names_by_id(meta)
        for o in meta.get("sort-orders") or []:
            if int(o.get("order-id") or 0) == oid:
                cols = []
                for f in o.get("fields") or []:
                    if (f.get("transform") or "identity") != "identity":
                        return oid, []
                    name = names.get(int(f.get("source-id") or -1))
                    if name is None:
                        return oid, []
                    cols.append(name)
                return oid, cols
        return 0, []

    def _write_metadata(self, new_meta: dict) -> None:
        """Commit a new ``metadata.json`` version with O_EXCL (the same
        concurrency contract as :meth:`_commit_snapshot`, for
        metadata-only operations like :meth:`evolve_spec`)."""
        try:
            mfile = self._metadata_file()
            stem = os.path.basename(mfile)[: -len(".metadata.json")]
            if stem.startswith("v") and stem[1:].isdigit():
                next_version, catalog_style = int(stem[1:]) + 1, False
            else:
                next_version, catalog_style = int(stem.split("-", 1)[0]) + 1, True
        except (FileNotFoundError, ValueError):
            next_version, catalog_style = 1, False
        import uuid as _uuid

        if catalog_style:
            mname = f"{next_version:05d}-{_uuid.uuid4()}.metadata.json"
        else:
            mname = f"v{next_version}.metadata.json"
        target = os.path.join(self.meta_dir, mname)
        try:
            publish_exclusive(target, json.dumps(new_meta))
        except FileExistsError:
            raise RuntimeError(
                f"Iceberg commit {mname} was taken by a concurrent writer — retry"
            ) from None
        if not catalog_style:
            _write_version_hint(self.meta_dir, next_version)

    #: memoized per-file arrow schema probe for equality-delete files
    #: (immutable once written): (field_id -> column name, column names)
    _EQ_FILE_SCHEMA_CACHE: dict = {}

    def _read_eq_keys(
        self, path: str, ids: list[int], schema: T.StructType
    ) -> DataFrame:
        """Read an equality-delete file's key tuples under the CURRENT
        logical column names — rename-safe: columns resolve by parquet
        FIELD ID when the file carries ids (our writer stamps them);
        files WITHOUT ids resolve POSITIONALLY in ``equality_ids``
        order (the order every writer emits). Name matching is
        deliberately NOT a fallback: after a rename that reuses
        another key's old name, a name match would cross-wire the key
        tuples — positional is the only sound rule for legacy files.
        The footer probe memoizes per path (delete files are
        immutable), so repeated plans pay it once."""
        import pyarrow.parquet as pq

        id_names = self.field_names_by_id()
        cols = [id_names[i] for i in ids]
        cached = IcebergTable._EQ_FILE_SCHEMA_CACHE.get(path)
        if cached is None:
            fsch = pq.ParquetFile(path).schema_arrow
            by_fid: dict[int, str] = {}
            fnames = list(fsch.names)
            for i in range(len(fnames)):
                fld = fsch.field(i)
                raw = (fld.metadata or {}).get(b"PARQUET:field_id")
                if raw is not None:
                    by_fid[int(raw)] = fld.name
            if len(IcebergTable._EQ_FILE_SCHEMA_CACHE) >= 4096:
                IcebergTable._EQ_FILE_SCHEMA_CACHE.clear()
            cached = (by_fid, fnames)
            IcebergTable._EQ_FILE_SCHEMA_CACHE[path] = cached
        by_fid, fnames = cached
        sel = []
        for pos, (fid, cur) in enumerate(zip(ids, cols)):
            if by_fid:
                src = by_fid.get(fid, fnames[pos])
            else:
                src = fnames[pos]  # positional: equality_ids order
            sel.append((src, cur))
        raw_df = self.spark.read.parquet(path)
        return raw_df.select(
            *[
                F.col(src).cast(schema[cur].dataType).alias(cur)
                for src, cur in sel
            ]
        )

    def _scan_with_pos(
        self,
        schema: T.StructType,
        cand: list[str],
        pos_deletes: list[str],
        eq_deletes: list[tuple[str, int, list[int]]] | None = None,
        seq_of: dict[str, int] | None = None,
        dvs: list | None = None,
    ) -> DataFrame:
        """Scan candidate data files with ``file_path``/``pos`` columns
        attached (parquet ``_metadata``), prior position deletes (and,
        via ``dvs``, v3 deletion vectors) anti-joined away. Shared by
        :meth:`delete`, :meth:`update`, :meth:`merge`.

        With ``eq_deletes`` (and ``seq_of``: data path → sequence
        number), equality deletes are ALSO applied with the spec's
        sequence semantics — a delete file at sequence S masks only
        rows in data files with sequence < S — which is what lets
        copy-on-write DML run on tables carrying equality deletes:
        rewritten rows were read through the deletes, and the new
        files' HIGHER sequence takes them out of every prior delete's
        scope, while untouched files keep their lower sequence and
        stay masked by the carried-forward delete manifests."""
        norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
        read_schema = self._read_schema_for(sorted(cand)[0], schema)
        need_seq = bool(eq_deletes)
        if need_seq:
            if seq_of is None:
                raise ValueError("eq-aware scan needs seq_of (path -> sequence)")
            parts = []
            for seq in sorted({seq_of[p] for p in cand}):
                paths = sorted(p for p in cand if seq_of[p] == seq)
                parts.append(
                    self.spark.read.schema(read_schema)
                    .parquet(*paths)
                    .select(
                        "*",
                        norm(F.col("_metadata.file_path")).alias("file_path"),
                        F.col("_metadata.row_index").alias("pos"),
                        F.lit(seq).alias("_seq"),
                    )
                )
            scan = parts[0]
            for p in parts[1:]:
                scan = scan.unionByName(p)
        else:
            scan = (
                self.spark.read.schema(read_schema)
                .parquet(*sorted(cand))
                .select(
                    "*",
                    norm(F.col("_metadata.file_path")).alias("file_path"),
                    F.col("_metadata.row_index").alias("pos"),
                )
            )
        defs = self._initial_default_fields()
        if defs:
            # v3 default values: DML predicates must see initial-defaults
            # on files that predate the column, same as read()
            scan = self._apply_initial_defaults(
                scan, sorted(cand), defs, schema, fp_col="file_path"
            )
        if pos_deletes or dvs:
            prior_parts = []
            if pos_deletes:
                prior_parts.append(
                    self.spark.read.schema("file_path STRING, pos LONG")
                    .parquet(*sorted(pos_deletes))
                    .select(norm(F.col("file_path")).alias("file_path"), "pos")
                )
            if dvs:
                prior_parts.append(
                    self._dv_del_df(dvs).select(
                        F.col("_fp").alias("file_path"),
                        F.col("_ri").alias("pos"),
                    )
                )
            prior = prior_parts[0]
            for pp in prior_parts[1:]:
                prior = prior.unionByName(pp)
            scan = scan.join(prior, ["file_path", "pos"], "left_anti")
        if need_seq:
            id_names = self.field_names_by_id()
            for path, seq, ids in eq_deletes:
                try:
                    ecols = [id_names[i] for i in ids]
                except KeyError as e:
                    raise NotImplementedError(
                        f"equality delete {path} references unknown field id {e}"
                    ) from None
                del_df = (
                    self._read_eq_keys(path, list(ids), schema)
                    .select(*[F.col(c).alias(f"_eq_{c}") for c in ecols])
                    .distinct()
                )
                cond = [scan["_seq"] < F.lit(seq)] + [
                    scan[c].eqNullSafe(del_df[f"_eq_{c}"]) for c in ecols
                ]
                scan = scan.join(del_df, on=cond, how="left_anti")
            scan = scan.drop("_seq")
        return scan

    def _stage_pos_delete_entries(
        self, matched: DataFrame, n_cand: int, snap_id: int
    ) -> tuple[list[dict], int, set]:
        """Distributed sorted write of position-delete file(s) from a
        ``(file_path, pos)`` DataFrame; returns (content=1 manifest
        entries, rows_deleted, touched data-file paths). The spec
        orders position deletes by (file_path, pos) for merge-friendly
        scans; the driver reads footers only."""
        import glob
        import shutil
        import tempfile
        import uuid as _uuid

        import pyarrow.parquet as pq

        st = tempfile.mkdtemp(prefix="icedel_")
        entries: list[dict] = []
        rows_deleted = 0
        touched: set[str] = set()
        try:
            matched.select("file_path", "pos").repartitionByRange(
                max(1, min(8, n_cand)), "file_path", "pos"
            ).sortWithinPartitions("file_path", "pos").write.mode("overwrite").parquet(st)
            staged = sorted(glob.glob(os.path.join(st, "part-*.parquet")))
            data_dir = os.path.join(self.path, "data")
            os.makedirs(data_dir, exist_ok=True)
            for f in staged:
                pf = pq.ParquetFile(f)
                if pf.metadata.num_rows == 0:
                    continue
                t = pf.read(columns=["file_path"])
                touched.update(t.column("file_path").to_pylist())
                rows_deleted += pf.metadata.num_rows
                dest = os.path.join(data_dir, f"{_uuid.uuid4().hex}-deletes.parquet")
                shutil.move(f, dest)
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "sequence_number": None,
                        "data_file": {
                            "content": 1,
                            "file_path": dest,
                            "file_format": "PARQUET",
                            "record_count": pf.metadata.num_rows,
                            "file_size_in_bytes": os.path.getsize(dest),
                            "lower_bounds": None,
                            "upper_bounds": None,
                        },
                    }
                )
        finally:
            shutil.rmtree(st, ignore_errors=True)
        return entries, rows_deleted, touched

    def delete(self, predicate: str, mode: str = "mor", retries: int = 0) -> dict:
        """Row-level DELETE against an Iceberg v2 table.

        ``mode="mor"`` (default, merge-on-read): matching rows are
        recorded as POSITION DELETE files (spec: 'Position Delete
        Files') — ``(file_path, pos)`` parquet rows, no data file
        rewritten — in a content=1 manifest chained onto a new
        snapshot. The engine's own reader (and any v2 reader) then
        anti-joins them out. Write cost tracks the CHANGE size.

        ``mode="cow"`` (copy-on-write): the files containing matches
        are REWRITTEN — survivors land as new data files and the
        affected files leave the manifests in one REPLACE-style
        'overwrite' snapshot — so subsequent reads pay ZERO anti-join.
        Write cost tracks the AFFECTED FILES, the read-heavy serving
        trade (VERDICT r6 item 4). Returns ``{"rows_deleted",
        "files_touched"}``.

        ``mode="dv"`` (v3 deletion vectors): matched rows are encoded
        as ONE roaring bitmap per data file in a Puffin-style sidecar
        (see :meth:`_delete_dv`) — the cheapest write of the three and
        the modern default for high-churn soft deletes; bumps the
        table to format-version 3 on first use.

        Scale shape (both modes): candidate data files prune on
        manifest bounds + partition tuples first; ONE distributed job
        computes matches; writes land distributed — the driver moves
        staged files and writes Avro metadata, never holding a row.

        ``retries``: when > 0, a commit that loses the O_EXCL race to a
        BLIND APPEND rebases instead of failing (the Delta
        WriteSerializable diff ported to Iceberg, see
        :meth:`_rebase_over_appends`): staged delete/DV/survivor files
        are reused, ids re-derive, manifests re-stamp. A racing
        non-append commit still loses loudly at any retry count."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf
        from ent_fins_lakehouse_spark.sources.skipping import prune_dirs

        if mode not in ("mor", "cow", "dv"):
            raise ValueError(
                f"delete mode must be 'mor', 'cow' or 'dv', got {mode!r}"
            )
        meta = self.metadata()
        schema = self.schema(meta)
        data, pos_deletes, eq_deletes, dvs = self._files_full()
        if eq_deletes and mode != "cow":
            raise NotImplementedError(
                "position-delete writes on tables carrying equality deletes "
                "are not supported (sequence interplay) — use mode='cow' "
                "or compact() first"
            )
        if dvs and mode in ("mor", "cow"):
            raise NotImplementedError(
                "the table carries v3 deletion vectors — keep deleting with "
                "mode='dv' (bitmaps merge per file) or compact() first"
            )
        stats = {p: b for p, _, b in data}
        cand, _ = prune_dirs(predicate, stats, [p for p, _, _ in data])
        if not cand:
            return {"rows_deleted": 0, "files_touched": 0}
        if mode == "dv":
            return self._delete_dv(
                meta, schema, cand, pos_deletes, dvs, predicate, retries=retries
            )
        if mode == "cow":
            seq_of = {p: s for p, s, _ in data}
            return self._delete_cow(
                meta, schema, cand, pos_deletes, predicate,
                eq_deletes=eq_deletes, seq_of=seq_of, retries=retries,
            )
        matched = self._scan_with_pos(schema, cand, pos_deletes).filter(
            predicate
        ).select("file_path", "pos")
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snaps = list(meta.get("snapshots") or [])
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        entries, rows_deleted, touched = self._stage_pos_delete_entries(
            matched, len(cand), snap_id
        )
        if not entries:
            return {"rows_deleted": 0, "files_touched": 0}

        # staged delete parquet is final; only metadata re-derives on a
        # rebase retry (blind-append winners — see _rebase_over_appends)
        for attempt in range(max(0, retries) + 1):
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, self._MANIFEST_SCHEMA, entries)
            rows = self._prior_manifest_rows(meta, snaps) + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            ]
            try:
                self._commit_snapshot(meta, snaps, snap_id, seq, rows, "delete", now)
                break
            except RuntimeError:
                if attempt == max(0, retries):
                    raise
                meta, snaps, seq, snap_id = self._rebase_over_appends(meta, "delete")
                for e in entries:
                    e["snapshot_id"] = snap_id
        return {"rows_deleted": rows_deleted, "files_touched": len(touched)}

    def _delete_dv(
        self,
        meta: dict,
        schema: T.StructType,
        cand: list[str],
        pos_deletes: list[str],
        dvs: list,
        predicate: str,
        retries: int = 0,
    ) -> dict:
        """DELETE via v3 DELETION VECTORS (spec: 'Deletion Vectors' +
        Puffin 'deletion-vector-v1' blobs — the same portable 64-bit
        RoaringBitmapArray serialization Delta uses, which is exactly
        why the engine's roaring codec serves both formats): matched
        rows are encoded as one bitmap PER DATA FILE, all blobs land in
        one Puffin-style sidecar, and each gets a content=1 manifest
        entry naming its ``referenced_data_file`` + blob
        ``[content_offset, content_size_in_bytes)``. No data file is
        rewritten — the soft-delete shape that makes high-churn DML
        affordable on large files.

        The v3 invariant — at most ONE deletion vector per data file —
        is maintained by MERGING: a file's existing bitmap is unioned
        with the new matches INSIDE the executor task that re-encodes
        it, and prior pure-DV manifests are superseded by the one new
        DV manifest (untouched files' entries carried verbatim with
        their resolved sequence numbers). First DV write bumps the
        table to format-version 3.

        Scale shape: candidates pruned on bounds; ONE distributed scan
        finds matches; per-file encode runs in applyInPandas tasks
        (bitmaps never exceed a file's row count, KBs each); the
        driver concatenates KB blobs into the sidecar and writes Avro
        metadata — it never holds row data."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        matched = (
            self._scan_with_pos(schema, cand, pos_deletes, dvs=dvs)
            .filter(predicate)
            .select("file_path", "pos")
        )
        # old-DV descriptors join in so the merge happens IN the task
        old_by_ref = {ref: (p, o, ln) for p, o, ln, ref, _ in dvs}
        desc_df = self.spark.createDataFrame(
            [(r, p, o, ln) for r, (p, o, ln) in sorted(old_by_ref.items())]
            or [("", "", 0, 0)],
            "file_path STRING, _dvp STRING, _dvo LONG, _dvl LONG",
        ).filter("file_path <> ''")
        joined = matched.join(F.broadcast(desc_df), "file_path", "left")

        def encode(key, pdf):
            import pandas as pd

            from ent_fins_lakehouse_spark.sources.roaring import (
                roaring64_payload,
                roaring64_rows,
            )

            rows = set(int(x) for x in pdf["pos"])
            dvp = pdf["_dvp"].iloc[0]
            if isinstance(dvp, str) and dvp:
                with open(dvp, "rb") as fh:
                    fh.seek(int(pdf["_dvo"].iloc[0]))
                    rows.update(roaring64_rows(fh.read(int(pdf["_dvl"].iloc[0]))))
            return pd.DataFrame(
                {
                    "file_path": [key[0]],
                    "payload": [roaring64_payload(sorted(rows))],
                    "rows": [len(rows)],
                }
            )

        enc = (
            joined.groupBy("file_path")
            .applyInPandas(encode, "file_path STRING, payload BINARY, rows LONG")
            .collect()
        )
        if not enc:
            return {"rows_deleted": 0, "files_touched": 0}

        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        blob_path = os.path.join(data_dir, f"{_uuid.uuid4().hex}-deletes.puffin")
        new_rows_deleted = 0
        new_entries: list[dict] = []
        now = int(time.time() * 1000)
        snaps = list(meta.get("snapshots") or [])
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        touched = set()
        with open(blob_path, "wb") as fh:
            fh.write(b"PUF1")  # engine puffin shim header (4 bytes)
            off = 4
            for r in sorted(enc, key=lambda r: r["file_path"]):
                payload = bytes(r["payload"])
                fh.write(payload)
                prior_rows = 0
                old = old_by_ref.get(r["file_path"])
                if old is not None:
                    prior_rows = next(
                        n for p, o, ln, ref, n in dvs if ref == r["file_path"]
                    )
                new_rows_deleted += int(r["rows"]) - prior_rows
                touched.add(r["file_path"])
                new_entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "sequence_number": None,
                        "data_file": {
                            "content": 1,
                            "file_path": blob_path,
                            "file_format": "PUFFIN",
                            "record_count": int(r["rows"]),
                            "file_size_in_bytes": len(payload),
                            "referenced_data_file": r["file_path"],
                            "content_offset": off,
                            "content_size_in_bytes": len(payload),
                        },
                    }
                )
                off += len(payload)
        # untouched files' existing DV entries ride into the new
        # manifest verbatim (explicit resolved sequence, EXISTING)
        for p, o, ln, ref, n in dvs:
            if ref in touched:
                continue
            new_entries.append(
                {
                    "status": 0,
                    "snapshot_id": snap_id,
                    "sequence_number": seq - 1,
                    "data_file": {
                        "content": 1,
                        "file_path": p,
                        "file_format": "PUFFIN",
                        "record_count": int(n),
                        "file_size_in_bytes": int(ln),
                        "referenced_data_file": ref,
                        "content_offset": int(o),
                        "content_size_in_bytes": int(ln),
                    },
                }
            )
        # the Puffin sidecar is final; manifests/ids re-derive per
        # rebase attempt (blind-append winners — see _rebase_over_appends)
        for attempt in range(max(0, retries) + 1):
            # prior manifests minus every pure-DV manifest (superseded by
            # the one new DV manifest); mixed foreign manifests refused
            rows = []
            for r in self._prior_manifest_rows(meta, snaps):
                if (r.get("content") or 0) == 1:
                    _, m_entries = read_ocf(self._resolve(r["manifest_path"]))
                    live = [e for e in m_entries if e.get("status") != 2]
                    dv_es = [
                        e for e in live
                        if (e.get("data_file") or {}).get("referenced_data_file")
                    ]
                    if dv_es and len(dv_es) != len(live):
                        raise NotImplementedError(
                            "manifest mixes deletion-vector and file-based "
                            "delete entries — unsupported"
                        )
                    if dv_es:
                        continue
                rows.append(r)
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, self._MANIFEST_SCHEMA, new_entries)
            rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
            commit_meta = meta
            if int(meta.get("format-version") or 2) < 3:
                commit_meta = {**meta, "format-version": 3}
            try:
                self._commit_snapshot(
                    commit_meta, snaps, snap_id, seq, rows, "delete", now
                )
                break
            except RuntimeError:
                if attempt == max(0, retries):
                    raise
                meta, snaps, seq, snap_id = self._rebase_over_appends(meta, "delete")
                for e in new_entries:
                    e["snapshot_id"] = snap_id
                    if e.get("status") == 0:
                        e["sequence_number"] = seq - 1
        return {
            "rows_deleted": new_rows_deleted,
            "files_touched": len(touched),
            "dv_blob": blob_path,
        }

    def _delete_cow(
        self,
        meta: dict,
        schema: T.StructType,
        cand: list[str],
        pos_deletes: list[str],
        predicate: str,
        eq_deletes: list | None = None,
        seq_of: dict | None = None,
        retries: int = 0,
    ) -> dict:
        """Copy-on-write DELETE: rewrite every file containing a match
        as survivors-only, drop the old files from the manifests in one
        'overwrite' snapshot (see :meth:`delete`)."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        # one distributed job: which candidate files actually contain
        # matches, and how many rows each loses
        per_file = (
            self._scan_with_pos(schema, cand, pos_deletes, eq_deletes, seq_of)
            .filter(predicate)
            .groupBy("file_path")
            .count()
            .collect()
        )
        if not per_file:
            return {"rows_deleted": 0, "files_touched": 0}
        affected = {r["file_path"] for r in per_file}
        rows_deleted = sum(r["count"] for r in per_file)
        cols = [f.name for f in schema.fields]
        # v3 row lineage: carried-over survivors keep BOTH lineage
        # columns, materialized into the rewritten files.
        lineage = "next-row-id" in meta
        scan_schema = self._lineage_ext_schema(schema) if lineage else schema
        # NULL-safe survivor filter: rows where the predicate evaluates
        # to NULL are NOT matches, so they must survive the rewrite —
        # plain NOT (pred) would drop them (three-valued logic).
        survivors = self._scan_with_pos(
            scan_schema, sorted(affected), pos_deletes, eq_deletes, seq_of
        )
        if lineage:
            survivors = self._lineage_scan_cols(
                survivors,
                {p: (seq_of or {}).get(p, 0) for p in sorted(affected)},
                self._first_row_ids(),
            )
        survivors = survivors.filter(f"NOT coalesce(({predicate}), false)").select(
            *cols,
            *(["_row_id", "_last_updated_sequence_number"] if lineage else []),
        )
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snaps = list(meta.get("snapshots") or [])
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        part_fields = self.partition_fields(meta)
        names = self.field_names_by_id(meta)
        spec_cols = [names[pf["source-id"]] for pf in part_fields]
        ice_schema = self._ice_schema(meta)
        data_entries = self._stage_data_entries(
            survivors, ice_schema, part_fields, spec_cols, snap_id
        )
        # survivor parquet is final; manifests/ids re-derive per rebase
        # attempt (blind-append winners never touch the affected files,
        # so the exclusion stays valid — see _rebase_over_appends)
        for attempt in range(max(0, retries) + 1):
            rows = self._rewrite_prior_rows_excluding(meta, snaps, affected, snap_id)
            if data_entries:
                am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                write_ocf(am, self._manifest_schema(part_fields, ice_schema), data_entries)
                rows.append(
                    {
                        "manifest_path": am,
                        "manifest_length": os.path.getsize(am),
                        "partition_spec_id": 0,
                        "content": 0,
                        "sequence_number": seq,
                        "added_snapshot_id": snap_id,
                    }
                )
            try:
                self._commit_snapshot(
                    meta, snaps, snap_id, seq, rows, "overwrite", now,
                    summary_extra={"mode": "copy-on-write"},
                )
                break
            except RuntimeError:
                if attempt == max(0, retries):
                    raise
                meta, snaps, seq, snap_id = self._rebase_over_appends(
                    meta, "copy-on-write delete"
                )
                self._assign_entry_row_ids(data_entries)
                for e in data_entries:
                    e["snapshot_id"] = snap_id
        return {"rows_deleted": rows_deleted, "files_touched": len(affected)}

    def _stage_eq_delete_entries(
        self, keys_df: DataFrame, key_cols: list[str], ice_schema: dict, snap_id: int
    ) -> list[dict]:
        """Distributed sorted write of EQUALITY delete file(s) (spec:
        'Equality Delete Files', content=2) holding the distinct key
        tuples, with ``equality_ids`` naming the key fields. The driver
        reads footers only."""
        import glob
        import shutil
        import tempfile
        import uuid as _uuid

        import pyarrow.parquet as pq

        ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
        eq_ids = [ids[c] for c in key_cols]
        st = tempfile.mkdtemp(prefix="iceeq_")
        entries: list[dict] = []
        try:
            # stamp FIELD IDS into the delete file (spec: delete files
            # carry the schema of the columns they name): key columns
            # must stay resolvable after a rename_column, which changes
            # the logical name but never the id
            self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
            (
                keys_df.select(
                    *[
                        F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
                        for c in key_cols
                    ]
                )
                .distinct()
                .repartitionByRange(1, *key_cols)
                .sortWithinPartitions(*key_cols)
                .write.mode("overwrite")
                .parquet(st)
            )
            data_dir = os.path.join(self.path, "data")
            os.makedirs(data_dir, exist_ok=True)
            for f in sorted(glob.glob(os.path.join(st, "part-*.parquet"))):
                pf = pq.ParquetFile(f)
                if pf.metadata.num_rows == 0:
                    continue
                dest = os.path.join(data_dir, f"{_uuid.uuid4().hex}-eq-deletes.parquet")
                shutil.move(f, dest)
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "sequence_number": None,
                        "data_file": {
                            "content": 2,
                            "file_path": dest,
                            "file_format": "PARQUET",
                            "record_count": pf.metadata.num_rows,
                            "file_size_in_bytes": os.path.getsize(dest),
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": eq_ids,
                        },
                    }
                )
        finally:
            shutil.rmtree(st, ignore_errors=True)
        return entries

    def upsert_eq(self, source: DataFrame, keys: list[str]) -> dict:
        """CDC upsert via EQUALITY DELETE files — the Flink-CDC commit
        shape (spec: 'Equality Delete Files', content=2), and the ONLY
        row-level verb here that never reads the target: ONE snapshot
        carries (a) an equality delete file listing the source's key
        tuples at sequence S — masking matching rows in every data file
        with sequence < S, null-safely, exactly what :meth:`read`
        applies for q164 — and (b) the source rows as new data files at
        sequence S, which survive their own delete (strict <). Write
        cost ∝ |source| regardless of table size: a 100 MB CDC batch
        commits against a 100 TB table without scanning it (the
        read-side pays the anti-joins instead — compact() materializes
        them away). Duplicate source keys are refused (both copies
        would land, unlike MERGE's one-winner contract)."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        meta = self.metadata()
        ice_schema = self._ice_schema(meta)
        spark_schema = self.schema(meta)
        want = {f.name: f.dataType for f in spark_schema.fields}
        have = {f.name: f.dataType for f in source.schema.fields}
        if sorted(have) != sorted(want) or any(have[n] != t for n, t in want.items()):
            raise ValueError(
                f"upsert source schema {source.schema.simpleString()} does not "
                f"match table schema {spark_schema.simpleString()}"
            )
        missing = [k for k in keys if k not in want]
        if missing:
            raise ValueError(f"key columns {missing} not in table schema")
        source = source.select(*[f.name for f in spark_schema.fields])
        dup = (
            source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"duplicate source keys in upsert_eq (e.g. {dup[0].asDict()}) — "
                "dedupe the CDC batch first"
            )
        part_fields = self.partition_fields(meta)
        names = self.field_names_by_id(meta)
        spec_cols = [names[pf["source-id"]] for pf in part_fields]
        now = int(time.time() * 1000)
        snaps = list(meta.get("snapshots") or [])
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1

        eq_entries = self._stage_eq_delete_entries(source, keys, ice_schema, snap_id)
        data_entries = self._stage_data_entries(
            source, ice_schema, part_fields, spec_cols, snap_id
        )
        rows = self._prior_manifest_rows(meta, snaps)
        for content, entries in ((1, eq_entries), (0, data_entries)):
            if not entries:
                continue
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(
                mpath,
                self._manifest_schema(part_fields if content == 0 else [], ice_schema),
                entries,
            )
            rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": content,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
        self._commit_snapshot(meta, snaps, snap_id, seq, rows, "overwrite", now)
        return {
            "rows_upserted": sum(e["data_file"]["record_count"] for e in data_entries),
            "snapshot_id": snap_id,
        }

    def delete_eq(self, keys_df: DataFrame, keys: list[str]) -> dict:
        """CDC row deletion by key — the delete half of the Flink shape:
        ONE snapshot carrying only an equality delete file (content=2)
        at sequence S. No target read, no data files. See
        :meth:`upsert_eq` for the sequence semantics."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        meta = self.metadata()
        ice_schema = self._ice_schema(meta)
        spark_schema = self.schema(meta)
        want = {f.name: f.dataType for f in spark_schema.fields}
        for k in keys:
            if k not in want:
                raise ValueError(f"key column {k!r} not in table schema")
            if keys_df.schema[k].dataType != want[k]:
                raise ValueError(
                    f"key column {k!r} type {keys_df.schema[k].dataType} != "
                    f"table type {want[k]}"
                )
        now = int(time.time() * 1000)
        snaps = list(meta.get("snapshots") or [])
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        eq_entries = self._stage_eq_delete_entries(keys_df, keys, ice_schema, snap_id)
        if not eq_entries:
            return {"delete_keys": 0, "snapshot_id": None}
        rows = self._prior_manifest_rows(meta, snaps)
        mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
        write_ocf(mpath, self._manifest_schema([], ice_schema), eq_entries)
        rows.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
        self._commit_snapshot(meta, snaps, snap_id, seq, rows, "delete", now)
        return {
            "delete_keys": sum(e["data_file"]["record_count"] for e in eq_entries),
            "snapshot_id": snap_id,
        }

    def update(
        self,
        assignments: dict[str, str],
        predicate: str | None = None,
        mode: str = "mor",
        retries: int = 0,
    ) -> dict:
        """Row-level UPDATE … SET col = expr [WHERE pred] as ONE Iceberg
        v2 'overwrite' snapshot. ``mode="mor"`` (default) carries BOTH a
        position-delete manifest (content=1, masking the old row
        versions — no data file rewritten) and a data manifest
        (content=0, the re-written rows); ``mode="cow"`` REWRITES the
        affected files (survivors + updated rows as new data files, old
        files dropped from the manifests) so reads pay zero anti-join —
        the read-heavy serving trade (VERDICT r6 item 4). Mirrors
        :meth:`DeltaLogTable.update`'s verb on the Iceberg side; any v2
        reader sees the updated rows.

        Scale shape: candidate files prune on manifest bounds first;
        matching is one distributed scan; both the delete files and the
        new data files land via distributed writes (driver reads footers
        only). Returns ``{"rows_updated", "snapshot_id"}``.

        ``retries``: rebase over blind-append race winners like
        :meth:`delete` (see :meth:`_rebase_over_appends`). With row
        lineage on, the staged data files embed the planned commit
        sequence (``_last_updated_sequence_number``), so a rebase
        RE-STAGES them under the new sequence — correctness over
        staging reuse; races are rare."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf
        from ent_fins_lakehouse_spark.sources.skipping import prune_dirs

        if mode not in ("mor", "cow"):
            raise ValueError(f"update mode must be 'mor' or 'cow', got {mode!r}")
        meta = self.metadata()
        schema = self.schema(meta)
        cols = [f.name for f in schema.fields]
        unknown = set(assignments) - set(cols)
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns {sorted(unknown)}")
        data, pos_deletes, eq_deletes, _dvs = self._files_full()
        if _dvs:
            raise NotImplementedError(
                "UPDATE on tables carrying v3 deletion vectors is not "
                "supported — compact() first (materializes the DVs)"
            )
        if eq_deletes and mode != "cow":
            raise NotImplementedError(
                "merge-on-read UPDATE on tables carrying equality deletes "
                "is not supported (sequence interplay) — use mode='cow' "
                "or compact() first"
            )
        seq_of = {p: s for p, s, _ in data}
        if predicate:
            stats = {p: b for p, _, b in data}
            cand, _ = prune_dirs(predicate, stats, [p for p, _, _ in data])
        else:
            cand = [p for p, _, _ in data]
        if not cand:
            return {"rows_updated": 0, "snapshot_id": meta.get("current-snapshot-id")}
        # v3 row lineage: an UPDATE preserves _row_id (that is lineage's
        # point — one id across a row's versions) and stamps the new
        # commit's sequence as _last_updated_sequence_number; survivors
        # carried by a CoW rewrite keep BOTH. Materialized into the new
        # files; their entries still get (over-allocated) first_row_id.
        lineage = "next-row-id" in meta
        scan_schema = self._lineage_ext_schema(schema) if lineage else schema
        scan = self._scan_with_pos(scan_schema, cand, pos_deletes, eq_deletes, seq_of)
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snaps = list(meta.get("snapshots") or [])
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        if lineage:
            scan = self._lineage_scan_cols(
                scan, {p: seq_of[p] for p in cand}, self._first_row_ids()
            )
        matched = scan.filter(predicate) if predicate else scan

        def _updated_for(seq_: int) -> DataFrame:
            # lineage stamps the commit SEQUENCE into the data files, so
            # a rebase retry rebuilds this frame under the new sequence
            upd_lineage = (
                [
                    F.col("_row_id"),
                    F.lit(seq_).cast("long").alias("_last_updated_sequence_number"),
                ]
                if lineage
                else []
            )
            return matched.select(
                *[
                    (
                        F.expr(assignments[c]).cast(schema[c].dataType)
                        if c in assignments
                        else F.col(c)
                    ).alias(c)
                    for c in cols
                ],
                *upd_lineage,
            )

        updated = _updated_for(seq)
        part_fields = self.partition_fields(meta)
        names = self.field_names_by_id(meta)
        spec_cols = [names[pf["source-id"]] for pf in part_fields]
        ice_schema = self._ice_schema(meta)
        if mode == "cow":
            # copy-on-write: rewrite the affected files as survivors +
            # updated rows; no position-delete manifest is written
            per_file = matched.groupBy("file_path").count().collect()
            if not per_file:
                return {
                    "rows_updated": 0,
                    "snapshot_id": meta.get("current-snapshot-id"),
                }
            affected = {r["file_path"] for r in per_file}
            rows_updated = sum(r["count"] for r in per_file)

            def _new_df_for(seq_: int) -> DataFrame:
                new_df = _updated_for(seq_)
                if predicate:
                    # NULL-safe survivors: predicate-NULL rows are
                    # non-matches and must be carried forward unchanged
                    # (same as the MoR path, which only touches rows
                    # where the predicate is TRUE)
                    surv = self._scan_with_pos(
                        scan_schema, sorted(affected), pos_deletes, eq_deletes, seq_of
                    )
                    if lineage:
                        surv = self._lineage_scan_cols(
                            surv,
                            {p: seq_of[p] for p in sorted(affected)},
                            self._first_row_ids(),
                        )
                    new_df = (
                        surv.filter(f"NOT coalesce(({predicate}), false)")
                        .select(
                            *cols,
                            *(["_row_id", "_last_updated_sequence_number"] if lineage else []),
                        )
                        .unionByName(new_df)
                    )
                return new_df

            data_entries = self._stage_data_entries(
                _new_df_for(seq), ice_schema, part_fields, spec_cols, snap_id
            )
            for attempt in range(max(0, retries) + 1):
                rows = self._rewrite_prior_rows_excluding(meta, snaps, affected, snap_id)
                if data_entries:
                    am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                    write_ocf(
                        am, self._manifest_schema(part_fields, ice_schema), data_entries
                    )
                    rows.append(
                        {
                            "manifest_path": am,
                            "manifest_length": os.path.getsize(am),
                            "partition_spec_id": 0,
                            "content": 0,
                            "sequence_number": seq,
                            "added_snapshot_id": snap_id,
                        }
                    )
                try:
                    self._commit_snapshot(
                        meta, snaps, snap_id, seq, rows, "overwrite", now,
                        summary_extra={"mode": "copy-on-write"},
                    )
                    break
                except RuntimeError:
                    if attempt == max(0, retries):
                        raise
                    meta, snaps, seq, snap_id = self._rebase_over_appends(
                        meta, "copy-on-write update"
                    )
                    if lineage:
                        # files embed the planned sequence — re-stage
                        data_entries = self._stage_data_entries(
                            _new_df_for(seq), ice_schema, part_fields, spec_cols, snap_id
                        )
                    else:
                        for e in data_entries:
                            e["snapshot_id"] = snap_id
            return {"rows_updated": rows_updated, "snapshot_id": snap_id}
        del_entries, rows_updated, _ = self._stage_pos_delete_entries(
            matched, len(cand), snap_id
        )
        if not del_entries:
            return {"rows_updated": 0, "snapshot_id": meta.get("current-snapshot-id")}
        data_entries = self._stage_data_entries(
            updated, ice_schema, part_fields, spec_cols, snap_id
        )
        for attempt in range(max(0, retries) + 1):
            dm = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(dm, self._MANIFEST_SCHEMA, del_entries)
            am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(am, self._manifest_schema(part_fields, ice_schema), data_entries)
            rows = self._prior_manifest_rows(meta, snaps) + [
                {
                    "manifest_path": am,
                    "manifest_length": os.path.getsize(am),
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                },
                {
                    "manifest_path": dm,
                    "manifest_length": os.path.getsize(dm),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                },
            ]
            try:
                self._commit_snapshot(meta, snaps, snap_id, seq, rows, "overwrite", now)
                break
            except RuntimeError:
                if attempt == max(0, retries):
                    raise
                meta, snaps, seq, snap_id = self._rebase_over_appends(meta, "update")
                for e in del_entries:
                    e["snapshot_id"] = snap_id
                if lineage:
                    # files embed the planned sequence — re-stage
                    data_entries = self._stage_data_entries(
                        _updated_for(seq), ice_schema, part_fields, spec_cols, snap_id
                    )
                else:
                    for e in data_entries:
                        e["snapshot_id"] = snap_id
        return {"rows_updated": rows_updated, "snapshot_id": snap_id}

    def _merge_candidate_paths(
        self, source: DataFrame, on: list[str], data: list
    ) -> list[str] | None:
        """Merge-key data skipping from manifest-entry bounds (the
        Iceberg twin of :meth:`DeltaLogTable._merge_candidate_files`):
        a data file whose decoded [lower, upper] bounds on a merge-key
        column cannot overlap the SOURCE's key range holds no matched
        row, so the target scan drops it — on a key-sorted table
        (write_with_sort_order / rewrite) the touched-key MERGE reads
        O(touched files), never O(table). Costs one tiny aggregate
        over the source, gated on total data bytes so small tables
        skip the extra job. Numeric keys only (string bounds may be
        truncated). Returns None when pruning is not applicable."""
        import os as _os

        from ent_fins_lakehouse_spark.sources.lakehouse import (
            MERGE_PRUNE_MIN_BYTES,
        )

        num_t = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType,
        )
        src_types = {f.name: f.dataType for f in source.schema.fields}
        comparable = [c for c in on if isinstance(src_types.get(c), num_t)]
        if not comparable:
            return None
        if not any(
            c in (b or {}) for _p, _s, b in data for c in comparable
        ):
            return None  # no file carries key bounds — nothing to prune
        total = 0
        for p, _s, _b in data:
            try:
                total += _os.path.getsize(p)
            except OSError:
                pass
        if total < MERGE_PRUNE_MIN_BYTES:
            return None
        aggs = []
        for c in comparable:
            aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
        row = source.agg(*aggs).collect()[0].asDict()
        rng: dict[str, tuple] = {}
        for c in comparable:
            lo, hi = row[f"_mn_{c}"], row[f"_mx_{c}"]
            if lo is not None and hi is not None:
                rng[c] = (lo, hi)
        if not rng:
            # empty / all-null key feed: equality matches nothing
            return []
        cand: list[str] = []
        for p, _s, b in data:
            st = b or {}
            keep = True
            for c, (smin, smax) in rng.items():
                if c not in st:
                    continue
                lo, hi = st[c]
                ok_types = (
                    isinstance(lo, (int, float))
                    and isinstance(hi, (int, float))
                    and not isinstance(lo, bool)
                )
                if ok_types and (hi < smin or lo > smax):
                    keep = False
                    break
            if keep:
                cand.append(p)
        return cand

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update_all: bool = True,
        when_not_matched_insert_all: bool = True,
        matched_condition: str | None = None,
        matched_update: dict[str, str] | None = None,
        not_matched_by_source_delete: bool = False,
        not_matched_by_source_condition: str | None = None,
        mode: str = "mor",
        retries: int = 0,
    ) -> dict:
        """MERGE INTO … USING source ON keys against an ICEBERG v2
        table — the reference's core upsert verb
        (`/root/reference/Instructor/01-Fraud-Delta.py:235-241`) on the
        Iceberg side, with the same clause surface as
        :meth:`DeltaLogTable.merge`. Committed merge-on-read as ONE
        'overwrite' snapshot: matched target row versions become
        position deletes (content=1 manifest); their updated values and
        the not-matched inserts land as new data files (content=0
        manifest). No existing data file is rewritten, so the write cost
        scales with the CHANGE size, not the table size — the property
        that matters when a 100 TB table absorbs a 100 MB change feed.

        Joins are Spark-planned (no forced broadcast; AQE broadcasts a
        small source). Returns ``{"rows_updated", "rows_inserted",
        "rows_deleted", "snapshot_id"}``.

        ``retries``: rebase over blind-append race winners like
        :meth:`delete`/:meth:`update` (see :meth:`_rebase_over_appends`);
        with row lineage on, the updated rows' staged files embed the
        planned sequence, so a rebase re-stages them."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        if mode not in ("mor", "cow"):
            raise ValueError(f"merge mode must be 'mor' or 'cow', got {mode!r}")
        meta = self.metadata()
        schema = self.schema(meta)
        cols = [f.name for f in schema.fields]
        want = {f.name: f.dataType for f in schema.fields}
        have = {f.name: f.dataType for f in source.schema.fields}
        if sorted(have) != sorted(want) or any(have[n] != t for n, t in want.items()):
            raise ValueError(
                f"merge source schema {source.schema.simpleString()} does not "
                f"match table schema {schema.simpleString()}"
            )
        source = source.select(cols)
        data, pos_deletes, eq_deletes, _dvs = self._files_full()
        if _dvs:
            raise NotImplementedError(
                "MERGE on tables carrying v3 deletion vectors is not "
                "supported — compact() first (materializes the DVs)"
            )
        if eq_deletes and mode != "cow":
            raise NotImplementedError(
                "merge-on-read MERGE on tables carrying equality deletes "
                "is not supported (sequence interplay) — use mode='cow' "
                "or compact() first"
            )
        seq_of = {p: s for p, s, _ in data}
        if not data:
            n = self.append(source)
            return {
                "rows_updated": 0,
                "rows_inserted": source.count(),
                "rows_deleted": 0,
                "snapshot_id": n,
            }
        cand = [p for p, _, _ in data]
        # merge-key data skipping (DeltaLogTable.merge's rule, bounds
        # from the manifest entries): files whose [lower, upper] range
        # on a merge key cannot overlap the source's key range hold no
        # matched row — sound for matched clauses AND the insert
        # anti-join; NOT MATCHED BY SOURCE must see every file.
        if not not_matched_by_source_delete:
            pruned = self._merge_candidate_paths(source, on, data)
            if pruned is not None and len(pruned) < len(cand):
                # an empty candidate set still scans one file: the
                # merge plumbing (target schema, counts) needs a scan,
                # and one unmatched file costs nothing
                cand = pruned or [data[0][0]]
        do_update = when_matched_update_all or matched_update is not None
        if matched_update is not None:
            unknown = set(matched_update) - set(want)
            if unknown:
                raise ValueError(f"UPDATE SET targets unknown columns {sorted(unknown)}")
            if set(matched_update) & set(on):
                raise ValueError("UPDATE SET cannot reassign MERGE key columns")
        # Consumer-counted persists (r14, the DeltaLogTable.merge rule):
        # the source feed is consumed by up to four downstream plans
        # (dup guard, key distinct, matched clause, insert anti-join) —
        # persist it when ≥2 will run so a non-trivial feed computes
        # once and cannot diverge between clauses. A pure
        # NOT-MATCHED-BY-SOURCE delete consumes it once (the key
        # distinct) — no persist there, matching the Delta delete-only
        # lesson. These are change-feed/key-sized relations used as
        # join or broadcast inputs, so output file layout is untouched.
        _cached: list[DataFrame] = []
        _src_consumers = (2 if do_update else 0) + 1 + (
            1 if when_not_matched_insert_all else 0
        )
        try:
            if _src_consumers >= 2:
                source = source.persist()
                _cached.append(source)
            # v3 row lineage: updated rows KEEP the target row's _row_id
            # (one id across a row's versions — lineage's point) with this
            # commit's sequence as _last_updated_sequence_number; CoW
            # survivors keep both; inserts carry nulls and inherit fresh
            # ids from their file's (over-allocated) first_row_id.
            lineage = "next-row-id" in meta
            lin_cols = ["_row_id", "_last_updated_sequence_number"] if lineage else []
            new_seq = int(meta.get("last-sequence-number") or 0) + 1
            scan_schema = self._lineage_ext_schema(schema) if lineage else schema
            target = self._scan_with_pos(scan_schema, cand, pos_deletes, eq_deletes, seq_of)
            if lineage:
                target = self._lineage_scan_cols(target, seq_of, self._first_row_ids())
            tkeys = target.select(*on).distinct()
            # each tkeys consumer re-runs the TARGET scan (candidate files
            # + delete anti-joins) — persist when ≥2 consume it
            _tkeys_consumers = (
                (1 if do_update else 0)
                + (1 if do_update and not matched_condition else 0)
                + (1 if when_not_matched_insert_all else 0)
            )
            if _tkeys_consumers >= 2:
                tkeys = tkeys.persist()
                _cached.append(tkeys)
            if do_update:
                # one target row matching multiple source rows is a
                # nondeterministic update — refuse, as Delta does
                dup_keys = (
                    source.groupBy(*on)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") > 1)
                    .drop("_n")
                )
                dup_matched = dup_keys.join(tkeys, on=on, how="left_semi").limit(1).collect()
                if dup_matched:
                    raise ValueError(
                        f"MERGE source has multiple rows for key "
                        f"{dup_matched[0].asDict()} matching the target — "
                        "dedup the source change feed before merging"
                    )
            keys = source.select(*on).distinct()
            # keys that actually match a target row (and the matched
            # condition, when given) — the update clause applies to these
            upd_keys = keys.join(tkeys, on=on, how="left_semi")
            if do_update and matched_condition:
                upd_keys = (
                    target.drop("file_path", "pos")
                    .alias("t")
                    .join(source.alias("s"), on=on, how="inner")
                    .filter(F.expr(matched_condition))
                    .select(*on)
                    .distinct()
                )
            # upd_keys gates the update-delete pass and the SET * images —
            # each a separate job re-running its target-semi-join subtree
            _upd_consumers = (
                (1 if do_update else 0)
                + (1 if do_update and matched_update is None else 0)
            )
            if _upd_consumers >= 2:
                upd_keys = upd_keys.persist()
                _cached.append(upd_keys)
            del_parts: list[DataFrame] = []
            n_upd_del = 0
            if do_update:
                del_parts.append(target.join(upd_keys, on=on, how="left_semi"))
            if not_matched_by_source_delete:
                # only target columns are in scope; alias as "t" so the
                # condition may use either bare or t.-prefixed names
                nm = target.alias("t").join(keys, on=on, how="left_anti")
                if not_matched_by_source_condition:
                    nm = nm.filter(F.expr(not_matched_by_source_condition))
                del_parts.append(nm.select(target.columns))
            def _new_parts_for(seq_: int) -> list[DataFrame]:
                # lineage stamps the commit SEQUENCE into the updated rows'
                # data files, so a rebase retry rebuilds these frames under
                # the new sequence (see update()'s twin)
                new_parts: list[DataFrame] = []
                if do_update:
                    if matched_update is None:
                        # WHEN MATCHED THEN UPDATE SET * — the new row IS the
                        # source row (source keys are unique among matched),
                        # once per matched target row: every one of them is
                        # deleted above, so duplicate target keys all take
                        # the update, each keeping its own _row_id
                        part = (
                            target.join(upd_keys, on=on, how="left_semi")
                            .select(*on, *(["_row_id"] if lineage else []))
                            .join(source, on=on, how="inner")
                        )
                        if lineage:
                            part = part.withColumn(
                                "_last_updated_sequence_number",
                                F.lit(seq_).cast("long"),
                            )
                        new_parts.append(part.select(*cols, *lin_cols))
                    else:
                        joined = (
                            target.drop("file_path", "pos")
                            .alias("t")
                            .join(source.alias("s"), on=on, how="inner")
                        )
                        if matched_condition:
                            joined = joined.filter(F.expr(matched_condition))
                        new_parts.append(
                            joined.select(
                                *[
                                    (
                                        F.col(c)
                                        if c in on
                                        else (
                                            F.expr(matched_update[c]).cast(want[c])
                                            if c in matched_update
                                            else F.col(f"t.{c}")
                                        )
                                    ).alias(c)
                                    for c in cols
                                ],
                                *(
                                    [
                                        F.col("t._row_id").alias("_row_id"),
                                        F.lit(seq_)
                                        .cast("long")
                                        .alias("_last_updated_sequence_number"),
                                    ]
                                    if lineage
                                    else []
                                ),
                            )
                        )
                if when_not_matched_insert_all:
                    ins = source.join(tkeys, on=on, how="left_anti")
                    if lineage:
                        ins = ins.withColumn(
                            "_row_id", F.lit(None).cast("long")
                        ).withColumn(
                            "_last_updated_sequence_number", F.lit(None).cast("long")
                        )
                    new_parts.append(ins)
                return new_parts

            new_parts = _new_parts_for(new_seq)

            now = int(time.time() * 1000)
            seq = int(meta.get("last-sequence-number") or 0) + 1
            snaps = list(meta.get("snapshots") or [])
            snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
            if mode == "cow":
                # copy-on-write: every file holding a to-be-removed row
                # version is rewritten (its untouched rows + the updated
                # rows + the inserts land as new data files); no
                # position-delete manifest, so reads pay zero anti-join
                part_counts = [
                    p.select(F.count(F.lit(1))).first()[0] for p in del_parts
                ]
                n_deleted = sum(part_counts)
                n_upd_del = part_counts[0] if do_update and del_parts else 0
                affected: set[str] = set()
                survivors = None
                if del_parts:
                    del_df = del_parts[0].select("file_path", "pos")
                    for p in del_parts[1:]:
                        del_df = del_df.unionByName(p.select("file_path", "pos"))
                    affected = {
                        r["file_path"]
                        for r in del_df.select("file_path").distinct().collect()
                    }
                    if affected:
                        surv = self._scan_with_pos(
                            scan_schema, sorted(affected), pos_deletes, eq_deletes, seq_of
                        )
                        if lineage:
                            surv = self._lineage_scan_cols(
                                surv,
                                {p: seq_of[p] for p in sorted(affected)},
                                self._first_row_ids(),
                            )
                        survivors = surv.join(
                            del_df, ["file_path", "pos"], "left_anti"
                        ).select(*cols, *lin_cols)
                n_inserted = 0
                if when_not_matched_insert_all:
                    # the insert clause's rows, counted directly (the other
                    # counts are change-set sized jobs already paid above)
                    n_inserted = (
                        new_parts[-1].select(F.count(F.lit(1))).first()[0]
                    )
                def _new_df_for(seq_: int) -> DataFrame | None:
                    new_df = None
                    for p in (
                        [survivors] if survivors is not None else []
                    ) + _new_parts_for(seq_):
                        p = p.select(*cols, *lin_cols)
                        new_df = p if new_df is None else new_df.unionByName(p)
                    return new_df

                part_fields = self.partition_fields(meta)
                names_by_id = self.field_names_by_id(meta)
                spec_cols = [names_by_id[pf["source-id"]] for pf in part_fields]
                ice_schema = self._ice_schema(meta)
                first_df = _new_df_for(seq)
                data_entries = (
                    self._stage_data_entries(
                        first_df.select(*cols, *lin_cols),
                        ice_schema,
                        part_fields,
                        spec_cols,
                        snap_id,
                    )
                    if first_df is not None
                    else []
                )
                if not affected and not data_entries:
                    return {
                        "rows_updated": 0,
                        "rows_inserted": 0,
                        "rows_deleted": 0,
                        "snapshot_id": meta.get("current-snapshot-id"),
                    }
                for attempt in range(max(0, retries) + 1):
                    rows = self._rewrite_prior_rows_excluding(meta, snaps, affected, snap_id)
                    if data_entries:
                        am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                        write_ocf(
                            am, self._manifest_schema(part_fields, ice_schema), data_entries
                        )
                        rows.append(
                            {
                                "manifest_path": am,
                                "manifest_length": os.path.getsize(am),
                                "partition_spec_id": 0,
                                "content": 0,
                                "sequence_number": seq,
                                "added_snapshot_id": snap_id,
                            }
                        )
                    try:
                        self._commit_snapshot(
                            meta, snaps, snap_id, seq, rows, "overwrite", now,
                            summary_extra={"mode": "copy-on-write"},
                        )
                        break
                    except RuntimeError:
                        if attempt == max(0, retries):
                            raise
                        meta, snaps, seq, snap_id = self._rebase_over_appends(
                            meta, "copy-on-write merge"
                        )
                        if lineage and data_entries:
                            # files embed the planned sequence — re-stage
                            data_entries = self._stage_data_entries(
                                _new_df_for(seq).select(*cols, *lin_cols),
                                ice_schema,
                                part_fields,
                                spec_cols,
                                snap_id,
                            )
                        else:
                            for e in data_entries:
                                e["snapshot_id"] = snap_id
                return {
                    "rows_updated": n_upd_del,
                    "rows_inserted": n_inserted,
                    "rows_deleted": max(0, n_deleted - n_upd_del),
                    "snapshot_id": snap_id,
                }
            n_deleted = 0
            # stage update-deletes and not-matched-by-source-deletes as
            # SEPARATE jobs: each part's row count then comes from the
            # staged file footers — no extra count() scan over the target
            del_entries: list[dict] = []
            part_counts: list[int] = []
            for p in del_parts:
                e, n, _ = self._stage_pos_delete_entries(p, len(cand), snap_id)
                del_entries.extend(e)
                part_counts.append(n)
                n_deleted += n
            if do_update and del_parts:
                n_upd_del = part_counts[0]
            part_fields = self.partition_fields(meta)
            names = self.field_names_by_id(meta)
            spec_cols = [names[pf["source-id"]] for pf in part_fields]
            ice_schema = self._ice_schema(meta)

            def _stage_new(seq_: int, snap_id_: int) -> list[dict]:
                parts_ = _new_parts_for(seq_)
                if not parts_:
                    return []
                new_df = parts_[0]
                for p in parts_[1:]:
                    new_df = new_df.unionByName(p)
                return self._stage_data_entries(
                    new_df, ice_schema, part_fields, spec_cols, snap_id_
                )

            data_entries = _stage_new(seq, snap_id) if new_parts else []
            n_written = sum(e["data_file"]["record_count"] for e in data_entries)
            if not del_entries and not data_entries:
                return {
                    "rows_updated": 0,
                    "rows_inserted": 0,
                    "rows_deleted": 0,
                    "snapshot_id": meta.get("current-snapshot-id"),
                }
            for attempt in range(max(0, retries) + 1):
                list_rows = self._prior_manifest_rows(meta, snaps)
                if data_entries:
                    am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                    write_ocf(am, self._manifest_schema(part_fields, ice_schema), data_entries)
                    list_rows.append(
                        {
                            "manifest_path": am,
                            "manifest_length": os.path.getsize(am),
                            "partition_spec_id": 0,
                            "content": 0,
                            "sequence_number": seq,
                            "added_snapshot_id": snap_id,
                        }
                    )
                if del_entries:
                    dm = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                    write_ocf(dm, self._MANIFEST_SCHEMA, del_entries)
                    list_rows.append(
                        {
                            "manifest_path": dm,
                            "manifest_length": os.path.getsize(dm),
                            "partition_spec_id": 0,
                            "content": 1,
                            "sequence_number": seq,
                            "added_snapshot_id": snap_id,
                        }
                    )
                try:
                    self._commit_snapshot(meta, snaps, snap_id, seq, list_rows, "overwrite", now)
                    break
                except RuntimeError:
                    if attempt == max(0, retries):
                        raise
                    meta, snaps, seq, snap_id = self._rebase_over_appends(meta, "merge")
                    for e in del_entries:
                        e["snapshot_id"] = snap_id
                    if lineage and data_entries:
                        # updated rows embed the planned sequence — re-stage
                        data_entries = _stage_new(seq, snap_id)
                    else:
                        for e in data_entries:
                            e["snapshot_id"] = snap_id
            return {
                "rows_updated": n_upd_del,
                "rows_inserted": max(0, n_written - n_upd_del),
                "rows_deleted": max(0, n_deleted - n_upd_del),
                "snapshot_id": snap_id,
            }
        finally:
            # every path releases the persisted frames, a raise included
            # (duplicate-key refusal, exhausted retries, a failed stage)
            for _c in _cached:
                _c.unpersist()

    def read_changes(self, from_snapshot: int, to_snapshot: int | None = None) -> DataFrame:
        """Incremental read — rows that changed in snapshots
        ``(from_snapshot, to_snapshot]`` (Iceberg's incremental append
        scan, the Delta change-data-feed twin): data files whose
        manifests were added by an in-range snapshot emit their rows as
        ``_change_type='insert'``; position-delete files added in range
        emit the masked rows (resolved back through the data files via
        a row-index join) as ``_change_type='delete'``; EQUALITY delete
        files added in range emit the rows they mask — exactly the
        PARENT snapshot's visible rows matching the key tuples
        (null-safe), since every pre-existing data file has a lower
        sequence than the new delete. An ``upsert_eq`` snapshot thus
        emits its matched old rows as deletes AND its new file as
        inserts, the CDC pair. v3 DELETION VECTORS emit the per-file
        POSITION DELTA (new bitmap minus the parent snapshot's — DV
        writes merge, so the delta is exactly the rows this snapshot
        deleted). Each row carries ``_commit_snapshot``.
        REPLACE snapshots (compaction) are skipped — they rearrange
        rows, they don't change them."""
        snaps = sorted(self.snapshots(), key=lambda s: s["snapshot-id"])
        ids = [s["snapshot-id"] for s in snaps]
        if from_snapshot not in ids:
            raise ValueError(f"snapshot {from_snapshot} not in {ids}")
        hi = to_snapshot if to_snapshot is not None else ids[-1]
        in_range = [
            s for s in snaps if from_snapshot < s["snapshot-id"] <= hi
        ]
        schema = self.schema()
        out_schema = T.StructType(
            [*schema.fields,
             T.StructField("_change_type", T.StringType()),
             T.StructField("_commit_snapshot", T.LongType())]
        )
        norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
        parts: list[DataFrame] = []
        for s in in_range:
            sid = s["snapshot-id"]
            summ = s.get("summary") or {}
            if summ.get("operation") == "replace":
                continue
            if summ.get("mode") == "copy-on-write":
                # CoW DML rewrites affected files as survivors+updates:
                # the added files are NOT inserts (they duplicate
                # already-streamed rows) and the removed rows never
                # appear as deletes — emitting them would corrupt feed
                # replay. Use merge-on-read DML when the table feeds CDC.
                raise NotImplementedError(
                    f"read_changes over copy-on-write snapshot {sid} — CoW "
                    "rewrites already-streamed rows; use mode='mor' DML for "
                    "CDC-consumed tables, or read around the rewrite"
                )
            _, mrows = read_ocf(self._resolve(s["manifest-list"]))
            added_data: list[str] = []
            added_deletes: list[str] = []
            added_eq: list[tuple[str, list[int]]] = []
            added_dvs: list[dict] = []
            for m in mrows:
                if (m.get("added_snapshot_id") or 0) != sid:
                    continue
                _, entries = read_ocf(self._resolve(m["manifest_path"]))
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    rec = e["data_file"]
                    path = self._resolve(rec["file_path"])
                    content = rec.get("content") or 0
                    if content == 0:
                        added_data.append(path)
                    elif content == 1:
                        if (rec.get("file_format") or "").upper() == "PUFFIN":
                            # v3 deletion vector: the one new DV manifest
                            # carries new/merged bitmaps as status=1 and
                            # untouched files' entries as status=0 carried
                            # — only the former are this snapshot's change
                            if e.get("status") == 1:
                                added_dvs.append(rec)
                        else:
                            added_deletes.append(path)
                    else:
                        ids_ = rec.get("equality_ids")
                        if not ids_:
                            raise ValueError(
                                f"equality delete {path} carries no equality_ids"
                            )
                        added_eq.append((path, list(ids_)))
            if added_eq:
                parent = s.get("parent-snapshot-id")
                if parent is not None:
                    prior_df = self.read(snapshot_id=int(parent))
                    id_names = self.field_names_by_id()
                    for path, eids in added_eq:
                        cols = [id_names[i] for i in eids]
                        kdf = (
                            self._read_eq_keys(path, list(eids), schema)
                            .distinct()
                            .select(*[F.col(c).alias(f"_eq_{c}") for c in cols])
                        )
                        cond = [
                            prior_df[c].eqNullSafe(kdf[f"_eq_{c}"]) for c in cols
                        ]
                        parts.append(
                            prior_df.join(kdf, on=cond, how="left_semi")
                            .withColumn("_change_type", F.lit("delete"))
                            .withColumn("_commit_snapshot", F.lit(sid))
                        )
            if added_data:
                # rename-safe: resolve columns by field id when the
                # files carry them (read()'s rule) — name resolution
                # would NULL out columns renamed after the file landed
                rs = self._read_schema_for(sorted(added_data)[0], schema)
                parts.append(
                    self.spark.read.schema(rs)
                    .parquet(*sorted(added_data))
                    .select(*[F.col(f.name) for f in schema.fields])
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_snapshot", F.lit(sid))
                )
            if added_deletes:
                dels = (
                    self.spark.read.schema("file_path STRING, pos LONG")
                    .parquet(*sorted(added_deletes))
                    .select(norm(F.col("file_path")).alias("_fp"), F.col("pos").alias("_ri"))
                )
                # resolve masked rows back through the CURRENT data
                # files (the delete file names them explicitly)
                data, _, _ = self._files(sid)
                all_data = sorted(p for p, _, _ in data)
                rows = (
                    self.spark.read.schema(
                        self._read_schema_for(all_data[0], schema)
                    )
                    .parquet(*all_data)
                    .select(
                        "*",
                        norm(F.col("_metadata.file_path")).alias("_fp"),
                        F.col("_metadata.row_index").alias("_ri"),
                    )
                    .join(dels, ["_fp", "_ri"], "left_semi")
                    .drop("_fp", "_ri")
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_snapshot", F.lit(sid))
                )
                parts.append(rows)
            if added_dvs:
                # v3 DV CDC: a DV write MERGES a file's bitmap, so this
                # snapshot's change is the per-file POSITION DELTA — the
                # new bitmap minus the PARENT snapshot's bitmap for the
                # same referenced file. Blobs are KB-sized roaring
                # bitmaps (the DV design point: the control plane moves
                # kilobytes), decoded driver-side like the DV write path
                # concatenates them; ONE distributed job then re-reads
                # only the referenced files and keeps the delta rows.
                parent = s.get("parent-snapshot-id")
                old_by_ref: dict[str, tuple[str, int, int]] = {}
                if parent is not None:
                    for p_, o_, ln_, ref_, _n in self._dv_entries(int(parent)):
                        old_by_ref[self._resolve(ref_)] = (p_, int(o_), int(ln_))
                pairs: list[tuple[str, int]] = []
                for rec in added_dvs:
                    ref = self._resolve(rec["referenced_data_file"])
                    new_pos = set(
                        self._dv_blob_positions(
                            self._resolve(rec["file_path"]),
                            int(rec.get("content_offset") or 0),
                            int(rec.get("content_size_in_bytes") or 0),
                        )
                    )
                    old = old_by_ref.get(ref)
                    if old is not None:
                        new_pos -= set(self._dv_blob_positions(*old))
                    pairs.extend((ref, int(x)) for x in sorted(new_pos))
                if pairs:
                    dels = self.spark.createDataFrame(pairs, "_fp STRING, _ri LONG")
                    refs = sorted({fp for fp, _ in pairs})
                    parts.append(
                        self.spark.read.schema(
                            self._read_schema_for(refs[0], schema)
                        )
                        .parquet(*refs)
                        .select(
                            "*",
                            norm(F.col("_metadata.file_path")).alias("_fp"),
                            F.col("_metadata.row_index").alias("_ri"),
                        )
                        .join(dels, ["_fp", "_ri"], "left_semi")
                        .drop("_fp", "_ri")
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_snapshot", F.lit(sid))
                    )
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE … RENAME COLUMN — metadata-only, as the spec
        mandates: the schema field keeps its FIELD ID and changes only
        its display name in a new metadata.json version. Existing data
        files (written under the old name, carrying field ids) keep
        reading correctly because resolution is by id; files appended
        after the rename carry the new name with the SAME id."""
        import uuid as _uuid

        meta = self.metadata()
        sch = self._ice_schema(meta)
        names = [f["name"] for f in sch["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        new_fields = [
            {**f, "name": new} if f["name"] == old else f for f in sch["fields"]
        ]
        new_schema = {**sch, "fields": new_fields}
        schemas = [
            new_schema if s.get("schema-id") == sch.get("schema-id") else s
            for s in (meta.get("schemas") or [sch])
        ]
        # identity partition fields display the source column's name
        specs = []
        for spec in meta.get("partition-specs") or []:
            sfields = [
                {**pf, "name": new}
                if pf.get("transform") == "identity" and pf.get("name") == old
                else pf
                for pf in spec.get("fields") or []
            ]
            specs.append({**spec, "fields": sfields})
        new_meta = {**meta, "schemas": schemas, "partition-specs": specs}
        mfile = self._metadata_file()
        stem = os.path.basename(mfile)[: -len(".metadata.json")]
        if stem.startswith("v") and stem[1:].isdigit():
            nv, catalog_style = int(stem[1:]) + 1, False
        else:
            nv, catalog_style = int(stem.split("-", 1)[0]) + 1, True
        mname = (
            f"{nv:05d}-{_uuid.uuid4()}.metadata.json"
            if catalog_style
            else f"v{nv}.metadata.json"
        )
        publish_exclusive(os.path.join(self.meta_dir, mname), json.dumps(new_meta))
        if not catalog_style:
            _write_version_hint(self.meta_dir, nv)

    #: primitive Iceberg types whose defaults serialize as plain JSON
    #: values (spec v3 'Default values' single-value serialization)
    _DEFAULTABLE_TYPES = {"int", "long", "float", "double", "string", "boolean"}

    def add_column(self, name: str, dtype, default=None) -> int:
        """ALTER TABLE … ADD COLUMN — metadata-only schema evolution
        (spec: 'Schema Evolution'): the new OPTIONAL field gets a FRESH
        field id (``last-column-id + 1`` — ids are never reused, the
        spec's correctness rule) in a NEW schema version; existing data
        files are untouched and read NULL for it, appends after the
        change carry it. Returns the new field id.

        ``default`` (v3 'Default values'): the field gets BOTH an
        ``initial-default`` (what rows in files written BEFORE the
        column existed read — still metadata-only, no backfill rewrite)
        and a ``write-default`` (what an append missing the column
        fills at write time). Explicit NULLs stored in newer files stay
        NULL — the default applies per FILE (column physically absent),
        never per value. Restricted to primitive types with plain JSON
        single-value serialization; bumps the table to format-version 3."""
        meta = self.metadata()
        sch = self._ice_schema(meta)
        if name in [f["name"] for f in sch["fields"]]:
            raise ValueError(f"column {name!r} already exists")
        fid = int(meta.get("last-column-id") or len(sch["fields"])) + 1
        itype = (
            _spark_to_iceberg(dtype)
            if not isinstance(dtype, str)
            else _spark_to_iceberg(T._parse_datatype_string(dtype))
        )
        new_field = {"id": fid, "name": name, "required": False, "type": itype}
        if default is not None:
            if itype not in self._DEFAULTABLE_TYPES:
                raise NotImplementedError(
                    f"default values for type {itype!r} are not supported — "
                    f"primitive types only: {sorted(self._DEFAULTABLE_TYPES)}"
                )
            new_field["initial-default"] = default
            new_field["write-default"] = default
            if int(meta.get("format-version") or 2) < 3:
                meta = {**meta, "format-version": 3}
        new_sid = max(s.get("schema-id", 0) for s in meta.get("schemas") or [sch]) + 1
        new_schema = {
            **sch,
            "schema-id": new_sid,
            "fields": [*sch["fields"], new_field],
        }
        self._write_metadata(
            {
                **meta,
                "schemas": [*(meta.get("schemas") or [sch]), new_schema],
                "current-schema-id": new_sid,
                "last-column-id": fid,
            }
        )
        return fid

    #: memoized footer-probe of a data file's physical column set
    #: (files are immutable once written, so the cache never staleens)
    _FILE_COLS_CACHE: dict = {}

    def _initial_default_fields(self, meta: dict | None = None) -> list[dict]:
        return [
            f
            for f in self._ice_schema(meta)["fields"]
            if f.get("initial-default") is not None
        ]

    def _apply_initial_defaults(
        self,
        out: DataFrame,
        paths: list[str],
        defs: list[dict],
        schema: T.StructType,
        fp_col: str = "_fp",
    ) -> DataFrame:
        """Per-file initial-default fill (spec v3 'Default values'): a
        file that physically LACKS a defaulted column reads the default
        for every row; files carrying the column keep stored values
        (explicit NULLs stay NULL). Missing-ness is a driver-side
        footer probe — memoized per immutable file, the same metadata
        weight as the staging footer reads — shipped as a broadcast
        dim; the fill itself is a codegen CASE WHEN."""
        import pyarrow.parquet as pq

        rows = []
        for p in paths:
            cols = IcebergTable._FILE_COLS_CACHE.get(p)
            if cols is None:
                cols = frozenset(pq.ParquetFile(p).schema_arrow.names)
                IcebergTable._FILE_COLS_CACHE[p] = cols
            rows.append(tuple([p] + [f["name"] not in cols for f in defs]))
        dim = self.spark.createDataFrame(
            rows,
            T.StructType(
                [T.StructField(fp_col, T.StringType())]
                + [
                    T.StructField(f"_missd_{i}", T.BooleanType())
                    for i in range(len(defs))
                ]
            ),
        )
        out = out.join(F.broadcast(dim), fp_col)
        for i, f in enumerate(defs):
            dt = schema[f["name"]].dataType
            out = out.withColumn(
                f["name"],
                F.when(
                    F.col(f"_missd_{i}"), F.lit(f["initial-default"]).cast(dt)
                ).otherwise(F.col(f["name"])),
            )
        return out.drop(*[f"_missd_{i}" for i in range(len(defs))])

    def drop_column(self, name: str) -> int:
        """ALTER TABLE … DROP COLUMN — metadata-only (spec: 'Schema
        Evolution'): the field leaves the CURRENT schema version; data
        files still carry the bytes but reads project them away, and
        the field id is never reused (``last-column-id`` stays), so a
        later add_column cannot resurrect old values — the spec's
        safety rule. Refused for partition-spec source columns (the
        layout references them). Returns the dropped field id."""
        meta = self.metadata()
        sch = self._ice_schema(meta)
        fld = next((f for f in sch["fields"] if f["name"] == name), None)
        if fld is None:
            raise ValueError(f"no column {name!r} in {[f['name'] for f in sch['fields']]}")
        if len(sch["fields"]) == 1:
            raise ValueError("cannot drop the only column")
        for spec in meta.get("partition-specs") or []:
            if any(pf.get("source-id") == fld["id"] for pf in spec.get("fields") or []):
                raise ValueError(
                    f"column {name!r} is a partition source (spec "
                    f"{spec.get('spec-id')}) — evolve the spec first"
                )
        new_sid = max(s.get("schema-id", 0) for s in meta.get("schemas") or [sch]) + 1
        new_schema = {
            **sch,
            "schema-id": new_sid,
            "fields": [f for f in sch["fields"] if f["name"] != name],
        }
        self._write_metadata(
            {
                **meta,
                "schemas": [*(meta.get("schemas") or [sch]), new_schema],
                "current-schema-id": new_sid,
            }
        )
        return int(fld["id"])

    #: promotions the Iceberg spec permits (spec: 'Schema Evolution').
    _TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}

    def promote_column_type(self, name: str, new_type: str) -> None:
        """ALTER TABLE … ALTER COLUMN TYPE — Iceberg type PROMOTION
        (spec: 'Schema Evolution'; Delta typeWidening's cross-format
        twin): the field keeps its id and takes the wider type in a new
        schema version, metadata-only. Existing files keep the narrow
        physical encoding (Spark up-casts at scan time) and their
        manifests keep narrow-width bounds, which the bound decoder
        handles by payload width — pruning stays correct across the
        promotion. decimal(p,s)→decimal(p',s) with p'>p also allowed."""
        import re as _re

        meta = self.metadata()
        sch = self._ice_schema(meta)
        fld = next((f for f in sch["fields"] if f["name"] == name), None)
        if fld is None:
            raise ValueError(f"no column {name!r} in {[f['name'] for f in sch['fields']]}")
        old_t = fld["type"]
        ok = (old_t, new_type) in self._TYPE_PROMOTIONS
        if not ok and isinstance(old_t, str):
            mo = _re.match(r"decimal\((\d+),\s*(\d+)\)", old_t)
            mn = _re.match(r"decimal\((\d+),\s*(\d+)\)", new_type)
            ok = bool(
                mo and mn and mo.group(2) == mn.group(2)
                and int(mn.group(1)) > int(mo.group(1))
            )
        if not ok:
            raise ValueError(
                f"{old_t} → {new_type} is not a spec promotion (int→long, "
                "float→double, decimal precision growth)"
            )
        new_sid = max(s.get("schema-id", 0) for s in meta.get("schemas") or [sch]) + 1
        new_schema = {
            **sch,
            "schema-id": new_sid,
            "fields": [
                {**f, "type": new_type} if f["name"] == name else f
                for f in sch["fields"]
            ],
        }
        self._write_metadata(
            {
                **meta,
                "schemas": [*(meta.get("schemas") or [sch]), new_schema],
                "current-schema-id": new_sid,
            }
        )

    def compact(
        self,
        target_files: int = 8,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        hilbert_by: list[str] | None = None,
    ) -> dict:
        """rewrite_data_files — Iceberg's compaction verb (OPTIMIZE's
        cross-format twin): the current snapshot rewrites into
        ``target_files`` right-sized files committed as a REPLACE
        snapshot whose manifest list carries ONLY the new data
        manifest — position and equality deletes are MATERIALIZED
        (masked rows drop out; the new snapshot carries no delete
        manifests), prior snapshots keep their own manifest lists so
        time travel still serves the pre-compaction state.

        ``sort_by`` is rewrite_data_files' sort strategy: rows
        range-partition + sort on the given columns, so each rewritten
        file covers a DISJOINT range and the manifests' footer-sourced
        lower/upper bounds turn selective — the compaction that makes
        file skipping effective (Z-ORDER's single-dimension sibling).

        ``zorder_by`` is rewrite_data_files' SORT strategy with a
        Z-ORDER expression (Iceberg's ``zorder(...)``): the same
        Morton bit-interleave the Delta side's ``optimize(zorder_by=…)``
        uses (shared ``_zvalue`` kernel — one clustering implementation,
        two table formats), so each rewritten file covers a small
        hyper-rectangle and the manifests' lower/upper bounds prune
        predicates on ANY z-ordered column, not just the leading one.
        ``hilbert_by`` clusters on the Hilbert curve instead (the
        liquid-clustering curve — shared ``_hilbert_value`` kernel):
        consecutive curve positions are always grid neighbors, so
        equal-size file cuts cover tighter hyper-rectangles than
        Morton's Z-shaped jumps. Returns
        ``{"files_before", "files_after", "deletes_materialized"}``."""
        data, pos_deletes, eq_deletes, _dvs = self._files_full()
        if sum(1 for x in (sort_by, zorder_by, hilbert_by) if x) > 1:
            raise ValueError("pass sort_by OR zorder_by OR hilbert_by, not several")
        meta = self.metadata()
        names = self.field_names_by_id(meta)
        spec_cols = [names[pf["source-id"]] for pf in self.partition_fields(meta)]
        # v3 row lineage: a compaction must PRESERVE row ids (spec:
        # rewrites that do not change rows keep lineage). Read with the
        # lineage columns attached and write them MATERIALIZED into the
        # rewritten files — their entries keep first_row_id null and
        # readers prefer the materialized values.
        if "next-row-id" in meta:
            df = self.read_with_lineage()
        else:
            df = self.read()
        if zorder_by or hilbert_by:
            from ent_fins_lakehouse_spark.sources.lakehouse import (
                _hilbert_value,
                _zvalue,
            )

            curve_cols = zorder_by or hilbert_by
            missing = [c for c in curve_cols if c not in df.columns]
            if missing:
                raise ValueError(f"clustering columns {missing} not in table")
            curve = (
                _zvalue(df, curve_cols) if zorder_by else _hilbert_value(df, curve_cols)
            )
            df = (
                df.withColumn("_z", curve)
                .repartitionByRange(max(1, target_files), "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
            snap_id = self.append(df, _replace=True, _basis_meta=meta)
            new_n = len(self.data_files(snap_id))
            return {
                "files_before": len(data),
                "files_after": new_n,
                "deletes_materialized": len(pos_deletes) + len(eq_deletes) + len(_dvs),
            }
        if sort_by is None:
            # rewrite_data_files' default strategy honors the table's
            # registered sort order (replace_sort_order): range-partition
            # on its columns so rewritten files cover disjoint ranges
            _, order_cols = self.default_sort_order(meta)
            if order_cols:
                sort_by = order_cols
        if sort_by:
            df = df.repartitionByRange(
                max(1, target_files), *sort_by
            ).sortWithinPartitions(*sort_by)
        elif spec_cols:
            df = df.repartition(max(1, target_files), *spec_cols)
        else:
            df = df.coalesce(max(1, target_files))
        snap_id = self.append(df, _replace=True, _basis_meta=meta)
        new_n = len(self.data_files(snap_id))
        return {
            "files_before": len(data),
            "files_after": new_n,
            "deletes_materialized": len(pos_deletes) + len(eq_deletes) + len(_dvs),
        }

    def fsck_repair(self, dry_run: bool = False) -> dict:
        """FSCK REPAIR TABLE — the Delta verb's Iceberg twin (r10):
        drop manifest entries whose DATA or DELETE files no longer
        exist on storage (out-of-band lifecycle deletion, manual
        cleanup, a foreign engine's GC) so reads stop failing with
        FileNotFound. Control-plane only: one existence probe per live
        file, then ONE 'delete' snapshot — data manifests rewrite via
        the same exclusion primitive copy-on-write uses (survivor
        entries become EXISTING with explicit sequences), delete
        manifests drop entries whose delete file (parquet or Puffin
        sidecar) is gone. Returns ``{"n_active", "n_missing",
        "missing"}`` (+ ``snapshot_id`` after a repair)."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        meta = self.metadata()
        snaps = list(meta.get("snapshots") or [])
        data, pos_deletes, eq_deletes, dvs = self._files_full()
        live = [p for p, _, _ in data]
        missing_data = {p for p in live if not os.path.exists(p)}
        del_paths = (
            list(pos_deletes)
            + [p for p, _, _ in eq_deletes]
            + [p for p, _, _, _, _ in dvs]
        )
        missing_del = {p for p in del_paths if not os.path.exists(p)}
        report = {
            "n_active": len(live) + len(del_paths),
            "n_missing": len(missing_data) + len(missing_del),
            "missing": sorted(missing_data | missing_del),
        }
        if dry_run or not (missing_data or missing_del):
            return report
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        rows = self._rewrite_prior_rows_excluding(meta, snaps, missing_data, snap_id)
        if missing_del:
            out_rows = []
            for r in rows:
                if (r.get("content") or 0) != 1:
                    out_rows.append(r)
                    continue
                _, entries = read_ocf(self._resolve(r["manifest_path"]))
                m_seq = r.get("sequence_number") or 0
                keep, changed = [], False
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    if self._resolve(e["data_file"]["file_path"]) in missing_del:
                        changed = True
                        continue
                    keep.append(
                        {
                            **e,
                            "status": 0,
                            "sequence_number": (
                                e.get("sequence_number")
                                if e.get("sequence_number") is not None
                                else m_seq
                            ),
                        }
                    )
                if not changed:
                    out_rows.append(r)
                    continue
                if not keep:
                    continue
                mp = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
                write_ocf(mp, self._MANIFEST_SCHEMA, keep)
                out_rows.append(
                    {
                        "manifest_path": mp,
                        "manifest_length": os.path.getsize(mp),
                        "partition_spec_id": r.get("partition_spec_id") or 0,
                        "content": 1,
                        "sequence_number": m_seq,
                        "added_snapshot_id": snap_id,
                    }
                )
            rows = out_rows
        self._commit_snapshot(
            meta, snaps, snap_id, seq, rows, "delete", now,
            summary_extra={"trigger": "fsck"},
        )
        return {**report, "snapshot_id": snap_id}

    def rewrite_small_files(
        self,
        small_file_threshold_bytes: int = 8 * 1024 * 1024,
        target_file_size_bytes: int = 64 * 1024 * 1024,
    ) -> dict:
        """SELECTIVE bin-pack compaction — ``rewrite_data_files`` with
        the binpack strategy's min-input-size gate: only data files
        SMALLER than the threshold are read and re-packed into
        ~``target_file_size_bytes`` outputs; every right-sized file is
        carried forward UNTOUCHED. This is the property that matters
        at 100 TB: a streaming ingester's small-file debt compacts at
        a cost proportional to the DEBT, never the table
        (:meth:`compact` is the full-rewrite variant).

        Delete interplay (the spec's own composition): position
        deletes / DVs / equality deletes masking the SELECTED files
        are applied during the rewrite (those rows drop out; rewritten
        files take a HIGHER data sequence, escaping prior eq-delete
        scopes); delete manifests carry forward verbatim, still
        masking the untouched files — entries now referencing dead
        files are dangling-but-harmless and are reclaimed by
        :meth:`rewrite_position_deletes` / :meth:`rewrite_manifests`.
        Row lineage (v3): selected rows keep their ids, MATERIALIZED
        into the packed files like :meth:`compact`.

        Returns ``{"files_selected", "files_kept", "files_after",
        "bytes_rewritten"}``; no-op (no commit) when fewer than two
        files are under the threshold."""
        import math
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        meta = self.metadata()
        schema = self.schema(meta)
        data, pos_deletes, eq_deletes, dvs = self._files_full()
        sizes = {p: os.path.getsize(p) for p, _, _ in data}
        selected = sorted(
            p for p, s in sizes.items() if s < small_file_threshold_bytes
        )
        if len(selected) < 2:
            return {
                "files_selected": len(selected),
                "files_kept": len(data) - len(selected),
                "files_after": len(data),
                "bytes_rewritten": 0,
            }
        seq_of = {p: s for p, s, _ in data}
        lineage = "next-row-id" in meta
        cols = [f.name for f in schema.fields]
        scan_schema = self._lineage_ext_schema(schema) if lineage else schema
        scan = self._scan_with_pos(
            scan_schema,
            selected,
            pos_deletes,
            eq_deletes=eq_deletes or None,
            seq_of=seq_of if eq_deletes else None,
            dvs=dvs or None,
        )
        if lineage:
            scan = self._lineage_scan_cols(
                scan, {p: seq_of[p] for p in selected}, self._first_row_ids()
            )
        lin_cols = ["_row_id", "_last_updated_sequence_number"] if lineage else []
        bytes_rewritten = sum(sizes[p] for p in selected)
        n_out = max(1, math.ceil(bytes_rewritten / target_file_size_bytes))
        packed = scan.select(*cols, *lin_cols).coalesce(n_out)

        now = int(time.time() * 1000)
        snaps = list(meta.get("snapshots") or [])
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        part_fields = self.partition_fields(meta)
        names = self.field_names_by_id(meta)
        spec_cols = [names[pf["source-id"]] for pf in part_fields]
        ice_schema = self._ice_schema(meta)
        data_entries = self._stage_data_entries(
            packed, ice_schema, part_fields, spec_cols, snap_id
        )
        rows = self._rewrite_prior_rows_excluding(meta, snaps, set(selected), snap_id)
        if data_entries:
            am = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(am, self._manifest_schema(part_fields, ice_schema), data_entries)
            rows.append(
                {
                    "manifest_path": am,
                    "manifest_length": os.path.getsize(am),
                    "partition_spec_id": int(meta.get("default-spec-id") or 0),
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
        self._commit_snapshot(
            meta, snaps, snap_id, seq, rows, "replace", now,
            summary_extra={"strategy": "binpack"},
        )
        return {
            "files_selected": len(selected),
            "files_kept": len(data) - len(selected),
            "files_after": len(self.data_files()),
            "bytes_rewritten": bytes_rewritten,
        }

    def add_files(self, source_dir: str) -> int:
        """``system.add_files`` — the Iceberg MIGRATION on-ramp:
        register a directory of EXISTING parquet files into the table
        as one append snapshot, metadata-only (zero bytes of data
        copied or rewritten; the files stay where they are and are
        referenced by absolute path, the same mechanism as
        :func:`convert_delta_to_iceberg`). Manifest entries are built
        from the parquet FOOTERS — record counts and little-endian
        numeric bounds — so imported files file-skip exactly like
        native writes. Creates the table from the files' schema when
        none exists. At 100 TB this is the entire point of the
        procedure: onboarding a legacy parquet lake is a control-plane
        pass over footers, not a petabyte rewrite.

        Refused loudly: hive-partitioned source layouts (their files
        DROP the partition columns; Iceberg requires complete rows —
        rewrite through :meth:`append` instead), schema mismatches,
        and partitioned targets (imported files carry no partition
        tuple)."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

        files = sorted(
            os.path.join(source_dir, f)
            for f in os.listdir(source_dir)
            if f.endswith(".parquet")
        )
        subdirs = [
            f for f in os.listdir(source_dir)
            if os.path.isdir(os.path.join(source_dir, f)) and "=" in f
        ]
        if subdirs:
            raise NotImplementedError(
                f"add_files: {source_dir} is hive-partitioned ({subdirs[:2]} …) — "
                "hive layouts drop partition columns from the data files; "
                "Iceberg requires complete rows. Rewrite through append()."
            )
        if not files:
            raise ValueError(f"add_files: no parquet files under {source_dir}")
        src_schema = self.spark.read.parquet(source_dir).schema
        now = int(time.time() * 1000)
        exists = self.exists() and bool(
            [f for f in os.listdir(self.meta_dir) if f.endswith(".metadata.json")]
        ) if os.path.isdir(self.meta_dir) else False
        if exists:
            meta = self.metadata()
            ice_schema = self._ice_schema(meta)
            want = {f.name: f.dataType for f in self.schema(meta).fields}
            have = {f.name: f.dataType for f in src_schema.fields}
            if sorted(have) != sorted(want) or any(have[n] != t for n, t in want.items()):
                raise ValueError(
                    f"add_files schema {src_schema.simpleString()} does not "
                    f"match table schema {self.schema(meta).simpleString()}"
                )
            if self.partition_fields(meta):
                raise NotImplementedError(
                    "add_files into a partitioned table — imported files "
                    "carry no partition tuple; use append()"
                )
            snaps = list(meta.get("snapshots") or [])
            seq = int(meta.get("last-sequence-number") or 0) + 1
            snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        else:
            os.makedirs(self.meta_dir, exist_ok=True)
            fields = [
                {"id": i + 1, "name": f.name, "required": False,
                 "type": _spark_to_iceberg(f.dataType)}
                for i, f in enumerate(src_schema.fields)
            ]
            ice_schema = {"schema-id": 0, "type": "struct", "fields": fields}
            meta = {
                "format-version": 2,
                "table-uuid": str(_uuid.uuid4()),
                "location": self.path,
                "last-sequence-number": 0,
                "last-updated-ms": now,
                "last-column-id": len(fields),
                "schemas": [ice_schema],
                "current-schema-id": 0,
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": []}],
                "last-partition-id": 999,
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "current-snapshot-id": -1,
                "snapshots": [],
            }
            snaps = []
            seq, snap_id = 1, 1
        ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
        itypes = {
            f["name"]: f["type"]
            for f in ice_schema["fields"]
            if isinstance(f["type"], str)
        }
        entries = []
        for fp in files:
            full = os.path.abspath(fp)
            num_rows, lo_kv, hi_kv = _footer_bounds(full, ids, itypes)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "sequence_number": None,  # inherited from the list row
                    "data_file": {
                        "content": 0,
                        "file_path": full,
                        "file_format": "PARQUET",
                        "record_count": num_rows,
                        "file_size_in_bytes": os.path.getsize(full),
                        "lower_bounds": lo_kv or None,
                        "upper_bounds": hi_kv or None,
                    },
                }
            )
        mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
        write_ocf(mpath, self._manifest_schema([], ice_schema), entries)
        rows = self._prior_manifest_rows(meta, snaps)
        rows.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": int(meta.get("default-spec-id") or 0),
                "content": 0,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
        return self._commit_snapshot(
            meta, snaps, snap_id, seq, rows, "append", now,
            summary_extra={
                "added-data-files": str(len(files)),
                "source-dir": source_dir,
            },
        )

    def cherry_pick(self, snapshot_id: int) -> int:
        """cherry_pick_snapshot — publish one (typically WAP-staged)
        APPEND snapshot onto the CURRENT main head even after main has
        advanced past the staging point (where :meth:`fast_forward`
        refuses): the snapshot's added data manifests are re-committed
        under a fresh snapshot id and sequence number. Metadata-only —
        the manifest files are REUSED verbatim (their entries inherit
        the new sequence number, the spec's inheritance rule); zero
        data movement. Only append snapshots are cherry-pickable
        (row-level changes could conflict with main's history —
        Iceberg's own restriction)."""
        import time
        import uuid as _uuid  # noqa: F401  (symmetry with sibling verbs)

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        meta = self.metadata()
        snaps = list(meta.get("snapshots") or [])
        snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} not in {self.meta_dir}")
        op = (snap.get("summary") or {}).get("operation")
        if op != "append":
            raise NotImplementedError(
                f"cherry-pick of a {op!r} snapshot is not supported — only "
                "append snapshots re-apply cleanly onto an advanced main"
            )
        if meta.get("current-snapshot-id") == snapshot_id:
            return snapshot_id  # already published
        _, src_rows = read_ocf(self._resolve(snap["manifest-list"]))
        added = [
            r
            for r in src_rows
            if (r.get("added_snapshot_id") or 0) == snapshot_id
            and (r.get("content") or 0) == 0
        ]
        if not added:
            raise ValueError(f"snapshot {snapshot_id} added no data manifests")
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        new_id = max(s["snapshot-id"] for s in snaps) + 1
        rows = self._prior_manifest_rows(meta, snaps) + [
            {
                "manifest_path": r["manifest_path"],
                "manifest_length": r.get("manifest_length") or 0,
                "partition_spec_id": r.get("partition_spec_id") or 0,
                "content": 0,
                "sequence_number": seq,
                "added_snapshot_id": new_id,
            }
            for r in added
        ]
        self._commit_snapshot(
            meta, snaps, new_id, seq, rows, "append", now,
            summary_extra={"source-snapshot-id": str(snapshot_id)},
        )
        return new_id

    def rewrite_position_deletes(self) -> dict:
        """rewrite_position_delete_files — the delete-side maintenance
        verb (Iceberg's Spark procedure of the same name), completing
        the triad with :meth:`compact` (data files) and
        :meth:`rewrite_manifests` (manifest lists): consolidate the
        snapshot's many small position-delete files into ONE sorted
        run of right-sized delete files, dropping DANGLING rows (rows
        whose target data file is no longer live — left behind when
        CoW DML or compaction rewrote the file) along the way. Data
        files are untouched; committed as a REPLACE of the delete
        manifests only, so prior snapshots still time-travel.

        Why it matters at 100 TB: every MoR DELETE/MERGE adds delete
        files, and the read-side anti-join unions ALL of them — after
        thousands of micro-deletes the delete side of the join is
        thousands of tiny files. This rewrite is O(delete bytes) (KBs
        per million masked rows), never touches data, and restores the
        one-file merge-friendly scan the spec's (file_path, pos)
        ordering is designed for.

        Equality-delete files (entry-level content=2) are carried
        forward VERBATIM — consolidating them needs sequence-number
        interplay this engine refuses elsewhere too. Returns
        ``{"delete_files_before", "delete_files_after",
        "dangling_rows_dropped", "rows_after"}``."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        meta = self.metadata()
        data, pos_deletes, eq_deletes = self._files()
        if not pos_deletes:
            return {
                "delete_files_before": 0,
                "delete_files_after": 0,
                "dangling_rows_dropped": 0,
                "duplicate_rows_dropped": 0,
                "rows_after": 0,
            }
        live = {p for p, _, _ in data}
        # one distributed pass over the delete files only: normalize
        # paths, drop rows pointing at no-longer-live data files,
        # dedupe (the same (file, pos) may be re-deleted), re-sort
        pos_df = (
            self.spark.read.schema("file_path STRING, pos LONG")
            .parquet(*sorted(pos_deletes))
            .select(
                F.regexp_replace("file_path", "^file:/+", "/").alias("file_path"),
                "pos",
            )
        )
        n_before = pos_df.count()
        # live-file filter as a broadcast semi-join (the live SET is
        # file-count-sized; an IN-list literal would not plan at scale)
        live_df = self.spark.createDataFrame(
            [(p,) for p in sorted(live)], "file_path STRING"
        )
        kept_refs = pos_df.join(F.broadcast(live_df), "file_path", "left_semi")
        n_live_refs = kept_refs.count()
        kept = kept_refs.distinct()
        now = int(time.time() * 1000)
        snaps = list(meta.get("snapshots") or [])
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        entries, rows_after, _ = self._stage_pos_delete_entries(
            kept, 1, snap_id
        )
        # prior manifests minus every pure position-delete manifest;
        # eq-delete manifests (entry-level content=2) ride forward
        rows: list[dict] = []
        for r in self._prior_manifest_rows(meta, snaps):
            if (r.get("content") or 0) == 1:
                _, m_entries = read_ocf(self._resolve(r["manifest_path"]))
                live_entries = [e for e in m_entries if e.get("status") != 2]
                keep = any(
                    int((e.get("data_file") or {}).get("content") or 0) == 2
                    # v3 deletion vectors are already one-per-file by
                    # invariant — nothing to consolidate; carry them
                    or (e.get("data_file") or {}).get("referenced_data_file")
                    for e in live_entries
                )
                if not keep:
                    continue  # a pure pos-delete manifest: superseded
            rows.append(r)
        if entries:
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, self._MANIFEST_SCHEMA, entries)
            rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
        self._commit_snapshot(
            meta, snaps, snap_id, seq, rows, "replace", now,
            summary_extra={"rewritten-delete-files": str(len(pos_deletes))},
        )
        return {
            "delete_files_before": len(pos_deletes),
            "delete_files_after": len(entries),
            "dangling_rows_dropped": n_before - n_live_refs,
            "duplicate_rows_dropped": n_live_refs - rows_after,
            "rows_after": rows_after,
        }

    def rewrite_manifests(self) -> dict:
        """rewrite_manifests — Iceberg's manifest-maintenance verb:
        consolidates the current snapshot's live data entries into ONE
        manifest per partition-spec id (explicit sequence numbers, the
        spec's rewritten-manifest rule) and DROPS delete manifests whose
        delete files reference only data files no longer live — so
        after copy-on-write DML has replaced the files a position
        delete pointed at, the read-side anti-join disappears WITHOUT a
        full :meth:`compact` (VERDICT r6 item 4). Metadata-only on the
        data side: O(manifest bytes) plus one tiny scan of the delete
        files' ``file_path`` column; no data file is read or written.
        Returns ``{"manifests_before", "manifests_after",
        "delete_manifests_dropped"}``."""
        import time
        import uuid as _uuid

        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf, write_ocf

        meta = self.metadata()
        snaps = list(meta.get("snapshots") or [])
        prior = self._prior_manifest_rows(meta, snaps)
        if not prior:
            return {
                "manifests_before": 0,
                "manifests_after": 0,
                "delete_manifests_dropped": 0,
            }
        now = int(time.time() * 1000)
        seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        live: set[str] = set()
        by_spec: dict[int, tuple[dict, list[dict]]] = {}
        delete_rows: list[dict] = []
        for r in prior:
            if (r.get("content") or 0) != 0:
                delete_rows.append(r)
                continue
            sch, entries = read_ocf(self._resolve(r["manifest_path"]))
            m_seq = r.get("sequence_number") or 0
            spec_id = int(r.get("partition_spec_id") or 0)
            slot = by_spec.setdefault(spec_id, (sch, []))
            for e in entries:
                if e.get("status") == 2:
                    continue
                live.add(self._resolve(e["data_file"]["file_path"]))
                slot[1].append(
                    {
                        **e,
                        "status": 0,
                        "sequence_number": (
                            e.get("sequence_number")
                            if e.get("sequence_number") is not None
                            else m_seq
                        ),
                    }
                )
        rows: list[dict] = []
        for spec_id, (sch, entries) in sorted(by_spec.items()):
            if not entries:
                continue
            mpath = os.path.join(self.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
            write_ocf(mpath, sch, entries)
            rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": spec_id,
                    "content": 0,
                    "sequence_number": min(
                        e["sequence_number"] for e in entries
                    ),
                    "added_snapshot_id": snap_id,
                }
            )
        dropped = 0
        for r in delete_rows:
            _, entries = read_ocf(self._resolve(r["manifest_path"]))
            live_entries = [e for e in entries if e.get("status") != 2]
            dpaths = [
                self._resolve(e["data_file"]["file_path"]) for e in live_entries
            ]
            if not dpaths:
                dropped += 1
                continue
            # Equality-delete files carry entry-level data_file.content=2
            # even though the manifest-LIST row is content=1; they have
            # no (file_path, pos) payload, so the dangling-reference scan
            # below would read NULLs and wrongly drop a live manifest —
            # carry any manifest holding eq-delete entries forward verbatim.
            if any(
                int((e.get("data_file") or {}).get("content") or 0) == 2
                for e in live_entries
            ):
                rows.append(r)
                continue
            # v3 deletion-vector manifests: each entry names its one
            # referenced data file explicitly — dangling iff that file
            # is no longer live; drop the manifest only when EVERY
            # entry dangles (no parquet scan, the refs are metadata)
            dv_refs = [
                (e.get("data_file") or {}).get("referenced_data_file")
                for e in live_entries
            ]
            if any(dv_refs):
                refs = {self._resolve(x) for x in dv_refs if x}
                if refs and not (refs & live):
                    dropped += 1
                else:
                    rows.append(r)
                continue
            if (r.get("content") or 0) == 1:
                # which data files do this manifest's position-delete
                # files reference? one file_path-column scan, KB-sized
                refs = {
                    row["file_path"]
                    for row in self.spark.read.schema("file_path STRING, pos LONG")
                    .parquet(*sorted(dpaths))
                    .select(
                        F.regexp_replace("file_path", "^file:/+", "/").alias(
                            "file_path"
                        )
                    )
                    .distinct()
                    .collect()
                }
                if refs and not (refs & live):
                    dropped += 1
                    continue
            rows.append(r)
        self._commit_snapshot(
            meta, snaps, snap_id, seq, rows, "replace", now,
            summary_extra={"rewritten-manifests": str(len(prior))},
        )
        return {
            "manifests_before": len(prior),
            "manifests_after": len(rows),
            "delete_manifests_dropped": dropped,
        }

    def remove_orphan_files(
        self, dry_run: bool = False, older_than_hours: float = 72.0
    ) -> dict:
        """remove_orphan_files — reclaim files referenced by NO
        snapshot of ANY retained ``*.metadata.json`` (crash leftovers:
        a writer that staged data files, manifests, or a manifest list
        but lost — or died before — the optimistic metadata commit; the
        Iceberg analogue of Delta VACUUM's uncommitted-file cleanup).
        Covers data files recursively under ``data/`` (partitioned
        staging dirs included) AND unreachable Avro manifests /
        manifest lists under ``metadata/``; ``*.metadata.json``,
        version hints, and Puffin files referenced by live snapshots
        are never touched. Live files of EVERY snapshot in every
        retained metadata version are kept, so time travel survives.

        ``older_than_hours`` (default 72, matching Iceberg's 3-day
        retention) is the crash-window safety horizon: a file whose
        mtime is newer than the horizon is SKIPPED even if currently
        unreferenced, because a concurrent writer may have staged it
        and not yet won its optimistic metadata commit — deleting it
        would corrupt that writer's eventually-successful commit. Pass
        ``older_than_hours=0`` only when no concurrent writer can
        exist (tests, single-writer maintenance windows).

        Returns ``{"orphans": [...]}`` under dry_run, else the deleted
        count."""
        import glob as _glob
        import time as _time

        # reachability roots: every snapshot of every retained
        # metadata.json version (a crash-window orphan is by
        # definition reachable from none of them)
        live_lists: set[str] = set()
        for mpath in _glob.glob(os.path.join(self.meta_dir, "*.metadata.json")):
            try:
                with open(mpath) as fh:
                    m = json.load(fh)
            except (OSError, ValueError):
                continue
            for snap in m.get("snapshots") or []:
                if snap.get("manifest-list"):
                    live_lists.add(os.path.abspath(self._resolve(snap["manifest-list"])))
        live: set[str] = set(live_lists)
        for lpath in sorted(live_lists):
            try:
                _, mrows = read_ocf(lpath)
            except (OSError, ValueError):
                continue
            for r in mrows:
                man = os.path.abspath(self._resolve(r["manifest_path"]))
                live.add(man)
                try:
                    _, entries = read_ocf(man)
                except (OSError, ValueError):
                    continue
                for e in entries:
                    live.add(
                        os.path.abspath(self._resolve(e["data_file"]["file_path"]))
                    )
        on_disk: set[str] = set()
        data_root = os.path.join(self.path, "data")
        for root, _dirs, files in os.walk(data_root):
            for fn in files:
                on_disk.add(os.path.abspath(os.path.join(root, fn)))
        # Avro debris in metadata/: manifests + manifest lists only —
        # never *.metadata.json (the commit history) or other artifacts
        for p in _glob.glob(os.path.join(self.meta_dir, "*.avro")):
            on_disk.add(os.path.abspath(p))
        # publish_exclusive staging residue: a writer killed between the
        # tmp write and the hardlink leaves `.<name>.<hex>.tmp` beside
        # the metadata — never referenced, reclaim past the horizon
        for p in _glob.glob(os.path.join(self.meta_dir, ".*.tmp")):
            on_disk.add(os.path.abspath(p))
        horizon = _time.time() - older_than_hours * 3600.0
        orphans = []
        for p in sorted(on_disk - live):
            try:
                if os.path.getmtime(p) > horizon:
                    continue  # inside the concurrent-writer window
            except OSError:
                continue  # already gone — someone else reclaimed it
            orphans.append(p)
        if dry_run:
            return {"orphans": orphans}
        for p in orphans:
            os.remove(p)
        return {"orphans_deleted": len(orphans)}

    def expire_snapshots(self, keep_last: int = 1, dry_run: bool = False) -> dict:
        """Snapshot expiration — the storage-reclamation half of
        compaction (delta-spark VACUUM's cross-format twin): all but
        the newest ``keep_last`` snapshots (the current snapshot is
        always kept) drop from the metadata, and data files, delete
        files, manifests and manifest lists referenced ONLY by expired
        snapshots are physically deleted. Returns
        ``{"expired", "files_deleted"}`` (paths under ``dry_run``)."""
        meta = self.metadata()
        snaps = sorted(self.snapshots(), key=lambda s: s["snapshot-id"])
        cur_id = meta.get("current-snapshot-id")
        keep = {s["snapshot-id"] for s in snaps[-max(1, keep_last) :]} | {cur_id}
        # ref'd snapshots (tags/branch heads) are pinned — expiring a
        # tagged snapshot would dangle the ref (spec: 'Refs')
        keep |= {int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()}
        expired = [s for s in snaps if s["snapshot-id"] not in keep]
        if not expired:
            return {"expired": 0, "files_deleted": []}

        def refs(snap_ids) -> set[str]:
            out: set[str] = set()
            for sid in snap_ids:
                snap = next(s for s in snaps if s["snapshot-id"] == sid)
                lpath = self._resolve(snap["manifest-list"])
                out.add(lpath)
                _, mrows = read_ocf(lpath)
                for r in mrows:
                    mpath = self._resolve(r["manifest_path"])
                    out.add(mpath)
                    _, entries = read_ocf(mpath)
                    for e in entries:
                        if e.get("status") == 2:
                            continue
                        out.add(self._resolve(e["data_file"]["file_path"]))
            return out

        live = refs(keep & {s["snapshot-id"] for s in snaps})
        dead = refs({s["snapshot-id"] for s in expired}) - live
        # statistics files are snapshot-pinned (spec 'Table
        # statistics'): entries for expired snapshots drop from the
        # metadata and their sidecars delete with them — reported in
        # files_deleted so dry_run lists EVERYTHING the real run removes
        stats_keep = []
        for e in meta.get("statistics") or []:
            if e.get("snapshot-id") in keep:
                stats_keep.append(e)
            else:
                sp = e.get("statistics-path")
                if sp:
                    dead.add(sp)
        if not dry_run:
            for p in sorted(dead):
                if os.path.isfile(p):
                    os.remove(p)
            new_meta = {
                **meta,
                "snapshots": [s for s in snaps if s["snapshot-id"] in keep],
            }
            if meta.get("statistics") is not None:
                new_meta["statistics"] = stats_keep
            mfile = self._metadata_file()
            stem = os.path.basename(mfile)[: -len(".metadata.json")]
            if stem.startswith("v") and stem[1:].isdigit():
                nv, catalog_style = int(stem[1:]) + 1, False
            else:
                nv, catalog_style = int(stem.split("-", 1)[0]) + 1, True
            import uuid as _uuid

            mname = (
                f"{nv:05d}-{_uuid.uuid4()}.metadata.json"
                if catalog_style
                else f"v{nv}.metadata.json"
            )
            publish_exclusive(
                os.path.join(self.meta_dir, mname), json.dumps(new_meta)
            )
            if not catalog_style:
                _write_version_hint(self.meta_dir, nv)
        return {"expired": len(expired), "files_deleted": sorted(dead)}


def _spark_to_iceberg(dt: T.DataType) -> str:
    """Spark type → Iceberg primitive name (inverse of _PRIMITIVES for
    the types the append writer supports)."""
    m = {
        T.BooleanType: "boolean",
        T.ByteType: "int",
        T.ShortType: "int",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampNTZType: "timestamp",
        T.TimestampType: "timestamptz",
        T.StringType: "string",
        T.BinaryType: "binary",
    }
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    raise NotImplementedError(f"Iceberg append does not support Spark type {dt}")


def convert_delta_to_iceberg(spark, delta_table, dest: str) -> "IcebergTable":
    """METADATA-ONLY Delta → Iceberg conversion (the UniForm / XTable
    idea, from the public Iceberg + Delta specs): build an Iceberg v2
    metadata tree — schema with field ids, manifest whose entries point
    at the DELTA TABLE'S OWN parquet files, manifest list, versioned
    metadata.json — without copying or rewriting one byte of data.
    Bounds come from the Delta add-action stats (numRecords, numeric
    min/max re-encoded as little-endian single-value serialization), so
    the converted table file-skips exactly like the source; files whose
    stats are absent fall back to a footer-metadata read (no data scan).

    Live deletion vectors TRANSLATE rather than refuse (since v3 both
    formats share the portable RoaringBitmapArray serialization): each
    Delta DV descriptor becomes an Iceberg v3 DV entry pointing at the
    SAME ``.bin`` payload bytes, and the converted table lands at
    format-version 3.

    Refused loudly (each needs a data rewrite, not metadata):
    - hive-partitioned tables (Delta's layout DROPS partition columns
      from the files; Iceberg requires them present),
    - column-mapped tables (physical names differ from logical).

    At 100 TB this is the whole point: format migration as a
    control-plane operation over file listings, not a petabyte rewrite.
    """
    import time
    import uuid as _uuid

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

    adds, schema, part_cols, meta = delta_table._snapshot()
    if part_cols:
        raise NotImplementedError(
            "converting a hive-partitioned Delta table needs a data rewrite "
            "(partition columns are not stored in the files)"
        )
    if ((meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) != "none":
        raise NotImplementedError("converting a column-mapped Delta table is not supported")
    now = int(time.time() * 1000)
    fields = [
        {"id": i + 1, "name": f.name, "required": False,
         "type": _spark_to_iceberg(f.dataType)}
        for i, f in enumerate(schema.fields)
    ]
    ice_schema = {"schema-id": 0, "type": "struct", "fields": fields}
    ids = {f["name"]: f["id"] for f in fields}
    itypes = {f["name"]: f["type"] for f in fields}

    entries = _delta_file_entries(delta_table, adds, ids, itypes, 1)
    # live Delta deletion vectors translate to Iceberg v3 DV entries
    # pointing at the SAME .bin payload bytes (shared serialization)
    dv_entries = _delta_dv_entries(delta_table, adds, 1)

    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    mpath = os.path.join(meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
    write_ocf(mpath, IcebergTable._MANIFEST_SCHEMA, entries)
    list_rows = [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "added_snapshot_id": 1,
        }
    ]
    if dv_entries:
        dpath = os.path.join(meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
        write_ocf(dpath, IcebergTable._MANIFEST_SCHEMA, dv_entries)
        list_rows.append(
            {
                "manifest_path": dpath,
                "manifest_length": os.path.getsize(dpath),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 1,
                "added_snapshot_id": 1,
            }
        )
    lpath = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_ocf(lpath, IcebergTable._MANIFEST_LIST_SCHEMA, list_rows)
    # Delta row tracking → Iceberg v3 row lineage: entries already
    # carry first_row_id = baseRowId; the counter continues from the
    # source's high water mark so post-conversion Iceberg commits
    # assign ids Delta never used
    rt = bool(getattr(delta_table, "_rt_enabled", False))
    rt_next = int(getattr(delta_table, "_rt_hwm", -1)) + 1 if rt else None
    new_meta = {
        "format-version": 3 if (dv_entries or rt) else 2,
        **({"next-row-id": rt_next} if rt else {}),
        "table-uuid": str(_uuid.uuid4()),
        "location": dest,
        "last-sequence-number": 1,
        "last-updated-ms": now,
        "last-column-id": len(fields),
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "sequence-number": 1,
                "timestamp-ms": now,
                "manifest-list": lpath,
                "summary": {
                    "operation": "append",
                    "converted-from": "delta",
                    "delta-version": str(delta_table.latest_version()),
                },
            }
        ],
    }
    target = os.path.join(meta_dir, "v1.metadata.json")
    publish_exclusive(target, json.dumps(new_meta))
    _write_version_hint(meta_dir, 1)
    return IcebergTable(spark, dest)


def convert_iceberg_to_delta(spark, iceberg_table: "IcebergTable", dest: str):
    """METADATA-ONLY Iceberg → Delta conversion — the reverse of
    :func:`convert_delta_to_iceberg` (XTable translates both
    directions): write a ``_delta_log`` whose add actions point at the
    ICEBERG TABLE'S OWN parquet files (absolute paths, the q187
    shallow-clone mechanism), re-encoding each manifest entry's record
    count and lower/upper bounds as Delta per-file stats — so the
    converted table file-skips exactly like the source. Zero bytes of
    data move.

    Partitioned Iceberg tables convert fine AS UNPARTITIONED Delta:
    the spec keeps partition source columns IN the data files, so every
    column is present; partition pruning downgrades to stats-based
    skipping (identity/truncate tuples already ride the bounds).

    Refused loudly (a data rewrite, not metadata): tables carrying
    position or equality delete files — run ``compact()`` first to
    materialize them.

    ROW IDENTITY (VERDICT r9 item 6, the reverse of
    ``_delta_file_entries``'s baseRowId -> first_row_id): when the
    source has v3 row lineage, the Delta twin enables ROW TRACKING in
    the same conversion commit — each add carries ``baseRowId`` =
    the entry's ``first_row_id`` (both formats define the row id as
    base + file position, so the ids are bit-identical) and the
    ``delta.rowTracking`` domain watermark continues from the source's
    ``next-row-id``, so native Delta appends after the conversion never
    collide with synced ids. Pre-lineage files (null ``first_row_id``):
    empty ones are skipped (they contribute no rows), non-empty ones
    are refused — Delta row tracking has no NULL-id representation
    (every add must carry ``baseRowId``), so ``compact()`` the source
    first to materialize ids.
    """
    import json as _json
    import struct as _s
    import time
    import uuid as _uuid

    from pyspark.sql import types as T

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    data, pos_deletes, eq_deletes, _dvs = iceberg_table._files_full()
    if pos_deletes or eq_deletes or _dvs:
        raise NotImplementedError(
            "table carries delete files — run compact() first to materialize "
            "them, then convert"
        )
    meta = iceberg_table.metadata()
    schema = iceberg_table.schema(meta)
    snaps = meta.get("snapshots") or []
    cur = meta.get("current-snapshot-id")
    now = int(time.time() * 1000)

    # manifest entries again, for record counts + sizes + raw bounds
    names = iceberg_table.field_names_by_id(meta)
    ftypes = {
        f["id"]: f["type"]
        for f in iceberg_table._ice_schema(meta)["fields"]
        if isinstance(f["type"], str)
    }
    stats_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.BooleanType)
    by_path: dict[str, dict] = {}
    if cur not in (None, -1):
        from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

        snap = next(s for s in snaps if s["snapshot-id"] == cur)
        _, manifests = read_ocf(iceberg_table._resolve(snap["manifest-list"]))
        for m in manifests:
            _, entries = read_ocf(iceberg_table._resolve(m["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:
                    continue
                df_rec = e["data_file"]
                if (df_rec.get("content") or 0) != 0:
                    continue
                p = os.path.abspath(iceberg_table._resolve(df_rec["file_path"]))
                by_path[p] = df_rec

    lineage = "next-row-id" in meta
    proto = (
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                {"appendOnly", "invariants", "domainMetadata", "rowTracking"}
            ),
        }
        if lineage
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CONVERT",
                # the snapshot anchor sync_iceberg_to_delta diffs from
                "operationParameters": {
                    "sourceFormat": "iceberg",
                    "snapshotId": str(cur),
                },
                "engineInfo": "ent_fins_lakehouse_spark/delta-shim",
            }
        },
        {"protocol": proto},
        {
            "metaData": {
                "id": str(_uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                # the materialized-column name lets the Delta reader
                # serve ids for compacted/CoW-rewritten source files,
                # whose physical _row_id differs from base + position
                "configuration": (
                    {
                        "delta.enableRowTracking": "true",
                        "delta.rowTracking.materializedRowIdColumnName": "_row_id",
                    }
                    if lineage
                    else {}
                ),
                "createdTime": now,
            }
        },
    ]
    for path, _seq, bounds in sorted(data):
        p = os.path.abspath(path)
        rec = by_path.get(p) or {}
        if lineage and rec.get("first_row_id") is None:
            if int(rec.get("record_count") or 0) == 0:
                continue  # empty pre-lineage file: nothing to identify
            raise NotImplementedError(
                f"file {p!r} predates row lineage (null first_row_id) — "
                "Delta row tracking cannot represent NULL ids; compact() "
                "the Iceberg table first to materialize them"
            )
        mins: dict = {}
        maxs: dict = {}
        for col, (lo, hi) in (bounds or {}).items():
            f = next((f for f in schema.fields if f.name == col), None)
            if f is None or not isinstance(f.dataType, stats_types):
                continue
            mins[col], maxs[col] = lo, hi
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": {},
                    "size": int(rec.get("file_size_in_bytes") or os.path.getsize(p)),
                    "modificationTime": now,
                    "dataChange": True,
                    "stats": _json.dumps(
                        {
                            "numRecords": int(rec.get("record_count") or 0),
                            "minValues": mins,
                            "maxValues": maxs,
                            "nullCount": {},
                        }
                    ),
                    **(
                        {"baseRowId": int(rec["first_row_id"])}
                        if lineage and rec.get("first_row_id") is not None
                        else {}
                    ),
                }
            }
        )
    if lineage:
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": _json.dumps(
                        {"rowIdHighWaterMark": int(meta["next-row-id"]) - 1}
                    ),
                    "removed": False,
                }
            }
        )
    dl = DeltaLogTable(spark, dest)
    os.makedirs(dest, exist_ok=True)
    dl._commit_actions(0, actions)
    return dl


def _delta_dv_entries(delta_table, adds: dict, snap_id: int) -> list[dict]:
    """Translate Delta DELETION-VECTOR descriptors into Iceberg v3 DV
    manifest entries POINTING AT THE DELTA .BIN FILES THEMSELVES —
    possible because v3 chose the same portable RoaringBitmapArray
    serialization: the payload at descriptor ``offset``+4 (past the
    u32 size word) IS the Iceberg blob, byte for byte. Inline ('i')
    descriptors are refused (no file to reference). Zero bytes move."""
    import base64
    import uuid as _uuid

    entries: list[dict] = []
    for rel, info in sorted(adds.items()):
        dv = info.get("deletionVector")
        if not dv:
            continue
        st = dv.get("storageType")
        if st == "u":
            enc = dv["pathOrInlineDv"]
            prefix, enc_uuid = enc[:-20], enc[-20:]
            u = _uuid.UUID(bytes=base64.b85decode(enc_uuid))
            name = f"deletion_vector_{u}.bin"
            fpath = (
                os.path.join(delta_table.path, prefix, name)
                if prefix
                else os.path.join(delta_table.path, name)
            )
        elif st == "p":
            fpath = dv["pathOrInlineDv"]
            if not os.path.isabs(fpath):
                fpath = os.path.join(delta_table.path, fpath)
        else:
            raise NotImplementedError(
                f"deletion vector storage type {st!r} cannot be referenced "
                "as an Iceberg blob — run reorg_purge() first"
            )
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": None,
                "data_file": {
                    "content": 1,
                    "file_path": os.path.abspath(fpath),
                    "file_format": "PUFFIN",
                    "record_count": int(dv.get("cardinality") or 0),
                    "file_size_in_bytes": int(dv["sizeInBytes"]),
                    "referenced_data_file": os.path.abspath(
                        os.path.join(delta_table.path, rel)
                    ),
                    "content_offset": int(dv.get("offset") or 0) + 4,
                    "content_size_in_bytes": int(dv["sizeInBytes"]),
                },
            }
        )
    return entries


def _delta_file_entries(
    delta_table, adds: dict, ids: dict, itypes: dict, snap_id: int
) -> list[dict]:
    """Manifest entries pointing at a Delta table's own parquet files,
    bounds re-encoded from the add-action stats (shared by
    :func:`convert_delta_to_iceberg` and
    :func:`sync_delta_to_iceberg`). Files without stats fall back to a
    footer-metadata read (no data scan)."""
    import struct as _s

    import pyarrow.parquet as pq

    entries = []
    for rel, info in sorted(adds.items()):
        full = os.path.abspath(os.path.join(delta_table.path, rel))
        stats = json.loads(info.get("stats") or "null")
        lo_kv, hi_kv = [], []
        n_rows = None
        if stats and "numRecords" in stats:
            n_rows = int(stats["numRecords"])
            mins = stats.get("minValues") or {}
            maxs = stats.get("maxValues") or {}
            for name, lo in mins.items():
                t = itypes.get(name)
                if t not in _BOUND_FMT or name not in maxs:
                    continue
                if isinstance(lo, bool) or not isinstance(lo, (int, float)):
                    continue
                lo_kv.append({"key": ids[name], "value": _s.pack(_BOUND_FMT[t], lo)})
                hi_kv.append({"key": ids[name], "value": _s.pack(_BOUND_FMT[t], maxs[name])})
        if n_rows is None:
            n_rows = pq.ParquetFile(full).metadata.num_rows
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": full,
                    "file_format": "PARQUET",
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": lo_kv or None,
                    "upper_bounds": hi_kv or None,
                    # Delta row tracking ↔ Iceberg v3 row lineage: both
                    # formats derive ids as base + file position, so a
                    # row-tracked add's baseRowId IS the entry's
                    # first_row_id — the twin serves the SAME ids
                    "first_row_id": (
                        int(info["baseRowId"])
                        if info.get("baseRowId") is not None
                        else None
                    ),
                },
            }
        )
    return entries


def sync_delta_to_iceberg(spark, delta_table, iceberg_table: "IcebergTable") -> int | None:
    """INCREMENTAL metadata-only sync of a previously-converted table
    (the XTable incremental-sync contract): the last synced Delta
    version is read from the current Iceberg snapshot's summary, and
    only the commits SINCE then are translated — appends become one
    Iceberg append snapshot carrying just the NEW files (prior
    manifests are reused untouched); any removal in the window
    (DELETE/OPTIMIZE rewrote files) degrades to one REPLACE snapshot
    listing the current file set — still zero data copied, and old
    snapshots stay time-travelable. Returns the new snapshot id, or
    None when already in sync.

    Refuses: a target whose current snapshot is not the last sync
    (someone advanced the Iceberg side independently — one-way sync
    cannot merge), schema drift since conversion, and the converter's
    own preconditions (DVs / hive partitioning / column mapping)."""
    import time
    import uuid as _uuid

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

    meta = iceberg_table.metadata()
    snaps = list(meta.get("snapshots") or [])
    cur_snap = next(
        (s for s in snaps if s["snapshot-id"] == meta.get("current-snapshot-id")),
        None,
    )
    if cur_snap is None or "delta-version" not in (cur_snap.get("summary") or {}):
        raise ValueError(
            "target is not a Delta-converted Iceberg table (or advanced "
            "independently) — sync needs the delta-version anchor on the "
            "current snapshot"
        )
    then = int(cur_snap["summary"]["delta-version"])
    cur = delta_table.latest_version()
    if cur == then:
        return None
    if cur < then:
        raise ValueError(
            f"Delta table is at version {cur}, behind the last sync {then}"
        )
    adds_now, schema, part_cols, dmeta = delta_table._snapshot()
    # capture row-tracking state NOW — the version_as_of replay below
    # rewinds the handle's cached _rt_hwm to the old version
    rt_on = bool(getattr(delta_table, "_rt_enabled", False))
    rt_next = int(getattr(delta_table, "_rt_hwm", -1)) + 1 if rt_on else None
    if part_cols:
        raise NotImplementedError(
            "sync of a hive-partitioned Delta table needs a data rewrite"
        )
    if ((dmeta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) != "none":
        raise NotImplementedError("sync of a column-mapped Delta table is not supported")
    ice_schema = iceberg_table._ice_schema(meta)
    ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    itypes = {f["name"]: f["type"] for f in ice_schema["fields"]}
    if sorted(ids) != sorted(f.name for f in schema.fields):
        raise NotImplementedError(
            "Delta schema changed since conversion — re-convert instead of sync"
        )
    adds_then, _, _, _ = delta_table._snapshot(version_as_of=then)
    new = {p: i for p, i in adds_now.items() if p not in adds_then}
    gone = [p for p in adds_then if p not in adds_now]
    now = int(time.time() * 1000)
    seq = int(meta.get("last-sequence-number") or 0) + 1
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    # Delta deletion vectors translate to v3 DV entries against the
    # same .bin payloads (shared serialization); any DV difference —
    # new DV, merged bitmap, DV'd file rewritten away — rebuilds the
    # (one) DV manifest alongside the data rows
    dv_entries = _delta_dv_entries(delta_table, adds_now, snap_id)
    dv_now = {
        (
            e["data_file"]["file_path"],
            e["data_file"]["content_offset"],
            e["data_file"]["content_size_in_bytes"],
            e["data_file"]["referenced_data_file"],
        )
        for e in dv_entries
    }
    dv_before = {
        (p, o, ln, ref) for p, o, ln, ref, _ in iceberg_table._dv_entries()
    }
    dv_changed = dv_now != dv_before
    if gone or dv_changed:
        entries = _delta_file_entries(delta_table, adds_now, ids, itypes, snap_id)
        rows = []
        operation = "replace"
    else:
        entries = _delta_file_entries(delta_table, new, ids, itypes, snap_id)
        rows = iceberg_table._prior_manifest_rows(meta, snaps)
        operation = "append"
    mpath = os.path.join(
        iceberg_table.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro"
    )
    write_ocf(mpath, IcebergTable._MANIFEST_SCHEMA, entries)
    rows.append(
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
        }
    )
    if (gone or dv_changed) and dv_entries:
        dpath = os.path.join(
            iceberg_table.meta_dir, f"manifest-{_uuid.uuid4().hex}.avro"
        )
        write_ocf(dpath, IcebergTable._MANIFEST_SCHEMA, dv_entries)
        rows.append(
            {
                "manifest_path": dpath,
                "manifest_length": os.path.getsize(dpath),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
    if dv_entries and int(meta.get("format-version") or 2) < 3:
        meta = {**meta, "format-version": 3}
    # Delta row tracking → v3 row lineage: entries carry
    # first_row_id = baseRowId already; keep the twin's counter at the
    # source's high water mark + 1 so the id spaces never collide
    if rt_on:
        meta = {
            **meta,
            "format-version": 3,
            "next-row-id": max(int(meta.get("next-row-id") or 0), rt_next),
        }
    iceberg_table._pending_row_lineage = None  # ids come from the source
    return iceberg_table._commit_snapshot(
        meta, snaps, snap_id, seq, rows, operation, now,
        summary_extra={"converted-from": "delta", "delta-version": str(cur)},
    )


def sync_iceberg_to_delta(spark, iceberg_table: "IcebergTable", delta_table) -> int | None:
    """INCREMENTAL metadata-only sync in the REVERSE direction
    (completing the XTable pair with :func:`sync_delta_to_iceberg`):
    the last synced Iceberg snapshot is read from the Delta log's most
    recent CONVERT/SYNC commitInfo anchor, and only the file-set DIFF
    since then is translated — new data files become ``add`` actions
    (bounds re-encoded as Delta stats), files rewritten away become
    ``remove`` actions, all in ONE Delta commit. Zero bytes of data
    move; Delta time travel serves every prior sync state. Returns the
    new Delta version, or None when already in sync.

    Refuses: a Delta log whose LAST commit is not a conversion/sync
    (someone wrote the Delta side independently — one-way sync cannot
    merge), schema drift since conversion, and delete files at the
    target snapshot (compact() first, the converter's own rule).

    ROW IDENTITY: when the source has v3 row lineage and the Delta twin
    is row-tracked (a lineage-aware conversion enables it), each synced
    add carries ``baseRowId`` = the file's ``first_row_id`` and the
    ``delta.rowTracking`` watermark advances to the source's
    ``next-row-id`` - 1 — both directions of the UniForm pair now
    preserve ``_row_id`` bit-identically (VERDICT r9 item 6). A synced
    file with null ``first_row_id`` under a row-tracked twin is refused
    (Delta's commit path would mint fresh ids and silently diverge from
    the source's NULL ids — compact() the source first)."""
    import json as _json
    import time

    from pyspark.sql import types as T

    versions = delta_table._json_versions()
    if not versions:
        raise ValueError("target Delta log is empty — convert_iceberg_to_delta first")
    last_v = max(versions)
    anchor = None
    with open(versions[last_v]) as fh:
        for line in fh:
            if not line.strip():
                continue
            act = _json.loads(line)
            ci = act.get("commitInfo")
            if ci is not None:
                params = ci.get("operationParameters") or {}
                if params.get("sourceFormat") == "iceberg" and "snapshotId" in params:
                    anchor = int(params["snapshotId"])
            break  # commitInfo is the first action of every commit here
    if anchor is None:
        raise ValueError(
            "target's last Delta commit is not an Iceberg conversion/sync "
            "(advanced independently?) — one-way sync needs the snapshot "
            "anchor on the head commit"
        )
    meta = iceberg_table.metadata()
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1) or int(cur) == anchor:
        return None

    _, d_schema, _, _ = delta_table._snapshot()
    i_schema = iceberg_table.schema(meta)
    if {f.name: f.dataType for f in d_schema.fields} != {
        f.name: f.dataType for f in i_schema.fields
    }:
        raise NotImplementedError(
            "schema drift since conversion — re-convert instead of syncing"
        )

    data_now, pos_d, eq_d, dv_d = iceberg_table._files_full()
    if pos_d or eq_d or dv_d:
        raise NotImplementedError(
            "snapshot carries delete files — run compact() first, then sync"
        )
    data_then, *_ = iceberg_table._files(anchor)
    then_paths = {os.path.abspath(p) for p, _, _ in data_then}
    now_by_path = {os.path.abspath(p): (s, b) for p, s, b in data_now}

    # record counts / sizes from the current snapshot's manifests
    from ent_fins_lakehouse_spark.sources.avro_io import read_ocf

    by_path: dict[str, dict] = {}
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
    _, manifests = read_ocf(iceberg_table._resolve(snap["manifest-list"]))
    for m in manifests:
        _, entries = read_ocf(iceberg_table._resolve(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2 or (e["data_file"].get("content") or 0) != 0:
                continue
            by_path[os.path.abspath(iceberg_table._resolve(e["data_file"]["file_path"]))] = e["data_file"]

    now_ms = int(time.time() * 1000)
    stats_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.BooleanType)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SYNC",
                "operationParameters": {
                    "sourceFormat": "iceberg",
                    "snapshotId": str(int(cur)),
                },
                "engineInfo": "ent_fins_lakehouse_spark/delta-shim",
            }
        }
    ]
    for p in sorted(then_paths - set(now_by_path)):
        actions.append(
            {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
        )
    lineage = "next-row-id" in meta
    rt_on = bool(getattr(delta_table, "_rt_enabled", False))  # fresh via _snapshot()
    n_add = 0
    for p in sorted(set(now_by_path) - then_paths):
        _, bounds = now_by_path[p]
        rec = by_path.get(p) or {}
        if lineage and rt_on and rec.get("first_row_id") is None:
            if int(rec.get("record_count") or 0) == 0:
                continue  # empty file: nothing to identify
            raise NotImplementedError(
                f"synced file {p!r} has no first_row_id — the row-tracked "
                "Delta twin would mint fresh ids and diverge from the "
                "source's NULL lineage; compact() the Iceberg table first"
            )
        mins: dict = {}
        maxs: dict = {}
        for col, (lo, hi) in (bounds or {}).items():
            f = next((f for f in d_schema.fields if f.name == col), None)
            if f is None or not isinstance(f.dataType, stats_types):
                continue
            mins[col], maxs[col] = lo, hi
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": {},
                    "size": int(rec.get("file_size_in_bytes") or os.path.getsize(p)),
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": _json.dumps(
                        {
                            "numRecords": int(rec.get("record_count") or 0),
                            "minValues": mins,
                            "maxValues": maxs,
                            "nullCount": {},
                        }
                    ),
                    **(
                        {"baseRowId": int(rec["first_row_id"])}
                        if lineage and rt_on
                        else {}
                    ),
                }
            }
        )
        n_add += 1
    if lineage and rt_on:
        # advance the twin's watermark past every id the source has
        # allocated so a native Delta append after the sync cannot
        # collide with synced ids
        new_hwm = max(
            int(getattr(delta_table, "_rt_hwm", -1)),
            int(meta["next-row-id"]) - 1,
        )
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": _json.dumps({"rowIdHighWaterMark": new_hwm}),
                    "removed": False,
                }
            }
        )
        delta_table._rt_hwm = new_hwm
    if n_add == 0 and len(actions) == 1:
        # snapshots advanced but the live file set is unchanged
        # (e.g. rewrite_manifests): record the new anchor only
        pass
    v = last_v + 1
    delta_table._commit_actions(v, actions)
    return v
