"""From-scratch Apache Iceberg METADATA reader (and fixture writer):
snapshot construction without the iceberg-spark runtime jar,
pairing ``sources/deltalog.py``'s Delta replay.

An Iceberg table is parquet data files plus a ``metadata/`` tree —
versioned ``v<N>.metadata.json`` documents (found via
``version-hint.text``) whose snapshots each point at a MANIFEST LIST
(an Avro file of manifest descriptors), which points at MANIFEST
FILES (Avro files of data-file entries with a status of EXISTING /
ADDED / DELETED). A reader resolves: hint -> metadata JSON ->
current (or pinned: time travel) snapshot -> manifest list ->
manifests -> live data files. The Avro layer here is the engine's
own object-container codec (``operators/avrocodec.py``) — the jar
gap closes because the metadata formats are public specs, not
connector internals.

Partitioning is first-class: identity, ``truncate[W]`` and
``bucket[N]`` transforms (Iceberg spec Appendix B — bucket is
Murmur3 x86-32 of the value's single-value serialization, pinned to
the spec's published test vectors), multi-column specs, and
transform-aware scan pruning (a filter on the SOURCE column is
transformed and compared against each manifest entry's partition
struct — exactly Iceberg's scan planning, so the file list shrinks
at the manifest level before any path is listed).

Subset: v1-shaped tables, parquet data files, core data_file fields
(content/file_path/file_format/record_count/file_size_in_bytes).
Anything else (date transforms, format v2 delete files, ...) gates
loudly toward the jar-backed path in ``sources/lakehouse.py``."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.avrocodec import read_container, write_container
from .lakehouse import local_path, parquet_column_stats, with_row_position

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2


# --- partition transforms (Iceberg spec §Partition Transforms + App. B) ------


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit (Austin Appleby's public-domain MurmurHash3)
    — the hash the Iceberg spec mandates for ``bucket[N]``."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n4 = len(data) // 4 * 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n4:]
    for i, b in enumerate(tail):
        k |= b << (8 * i)
    if tail:
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(value, n: int) -> int:
    """``bucket[N]`` of a long/int/string value per the spec: ints
    and longs hash as 8-byte little-endian (so hash(34) == hash(34L)),
    strings as UTF-8 bytes; result ``(hash & Int.MAX) % N``."""
    if isinstance(value, bool) or value is None:
        raise NotImplementedError(
            f"bucket transform on {type(value).__name__} is outside "
            "the subset (long/int/string here)"
        )
    if isinstance(value, int):
        data = (value & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
    elif isinstance(value, str):
        data = value.encode()
    else:
        raise NotImplementedError(
            f"bucket transform on {type(value).__name__} is outside "
            "the subset (long/int/string here)"
        )
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def bucket_long_array(vals, n: int):
    """numpy-vectorized ``bucket[N]`` over an int64 array — the
    executor-side twin of ``bucket_value`` for the fanout writer's
    partition-column derivation (Arrow batch in, buckets out; no
    per-row Python). Longs hash as two little-endian 32-bit blocks,
    no tail, length 8 — Murmur3 x86-32 unrolled in uint32 ops."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    with np.errstate(over="ignore"):
        h = np.zeros(len(v), np.uint32)
        for blk in (
            (v & np.uint64(0xFFFFFFFF)).astype(np.uint32),
            (v >> np.uint64(32)).astype(np.uint32),
        ):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)  # length
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
        return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
            np.int32
        )


def bucket_str_array(bytes_list, n: int):
    """numpy-vectorized ``bucket[N]`` over a list of UTF-8 byte
    strings — ``bucket_long_array``'s variable-length twin for the
    fanout writer's string partition columns. The whole batch is
    scattered into one zero-padded (rows x 4-byte-aligned) uint8
    matrix, the Murmur3 x86-32 body runs as masked uint32 column
    sweeps (max(len)//4 vectorized rounds, no per-element Python
    hashing), and the zero padding doubles as the tail's implicit
    high-byte zeros."""
    import numpy as np

    m = len(bytes_list)
    lens = np.fromiter(
        (len(b) for b in bytes_list), dtype=np.int64, count=m
    )
    # pad to a 4-byte multiple PLUS one spare word so the tail word
    # (block index nblocks) is always addressable
    pad = (int(lens.max(initial=0)) + 4) // 4 * 4 + 4
    buf = np.zeros((m, pad), np.uint8)
    flat = np.frombuffer(b"".join(bytes_list), dtype=np.uint8)
    if len(flat):
        starts = np.zeros(m, np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        idx_row = np.repeat(np.arange(m), lens)
        idx_col = np.arange(len(flat)) - np.repeat(starts, lens)
        buf[idx_row, idx_col] = flat
    words = buf.view("<u4")  # (m, pad // 4) little-endian blocks
    nblocks = lens // 4
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    with np.errstate(over="ignore"):
        h = np.zeros(m, np.uint32)
        for j in range(int(nblocks.max(initial=0))):
            mask = nblocks > j
            k = words[:, j] * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h2 = h ^ k
            h2 = (h2 << np.uint32(13)) | (h2 >> np.uint32(19))
            h2 = h2 * np.uint32(5) + np.uint32(0xE6546B64)
            h = np.where(mask, h2, h)
        # tail: the word at block index nblocks already carries the
        # 1-3 trailing bytes little-endian with zero high bytes
        tail_mask = (lens % 4) > 0
        k = words[np.arange(m), nblocks] * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = np.where(tail_mask, h ^ k, h)
        h ^= lens.astype(np.uint32)
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
        return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
            np.int32
        )


def truncate_value(value, w: int):
    """``truncate[W]``: strings keep the first W characters; integers
    floor to the nearest lower multiple of W (``v - (v mod W)`` with a
    non-negative mod, per spec)."""
    if isinstance(value, str):
        return value[:w]
    if isinstance(value, int) and not isinstance(value, bool):
        return value - (((value % w) + w) % w)
    raise NotImplementedError(
        f"truncate transform on {type(value).__name__} is outside "
        "the subset (long/int/string here)"
    )


def apply_transform(transform: str, value):
    """Partition-struct value for a source value under ``identity`` /
    ``truncate[W]`` / ``bucket[N]`` — used by the WRITER to assign
    files and by the READER to transform scan predicates."""
    if value is None:
        return None  # spec: every transform maps null to null
    if transform == "identity":
        return value
    if transform.startswith("truncate[") and transform.endswith("]"):
        return truncate_value(value, int(transform[9:-1]))
    if transform.startswith("bucket[") and transform.endswith("]"):
        return bucket_value(value, int(transform[7:-1]))
    raise NotImplementedError(
        f"partition transform {transform!r} is outside the "
        "metadata-replay subset (identity/truncate[W]/bucket[N]; use "
        "the jar-backed path)"
    )


def partition_field_name(source: str, transform: str) -> str:
    """Spec-conventional derived field names: identity keeps the
    column name; bucket/truncate suffix it."""
    if transform == "identity":
        return source
    if transform.startswith("bucket"):
        return f"{source}_bucket"
    if transform.startswith("truncate"):
        return f"{source}_trunc"
    return f"{source}_{transform}"


def normalize_partition_spec(partition_by, schema_names) -> list:
    """Normalize a sink's ``partition_by`` — a tuple of column names
    (identity) and/or ``(column, transform)`` pairs — into spec-field
    dicts ``{name, source, transform, source_id, field_id}``."""
    fields = []
    for i, p in enumerate(partition_by):
        source, transform = (p, "identity") if isinstance(p, str) else p
        if source not in schema_names:
            raise ValueError(
                f"partition source column {source!r} not in schema "
                f"{list(schema_names)}"
            )
        if transform != "identity":
            # validate the transform syntax loudly at spec-build time
            apply_transform(transform, 0)
        fields.append(
            {
                "name": partition_field_name(source, transform),
                "source": source,
                "transform": transform,
                "source_id": list(schema_names).index(source) + 1,
                "field_id": 1000 + i,
            }
        )
    return fields

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

# format-version 2 manifest-list entry: ``content`` flags DATA (0)
# vs DELETES (1) manifests — v2 forbids mixing the two in one
# manifest — and sequence numbers scope which data files a delete
# manifest applies to (data seq <= delete seq)
_MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "long"},
        {"name": "content", "type": "long"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

def _bounds_type(name: str) -> dict:
    """lower_bounds/upper_bounds per spec: a map keyed by FIELD ID
    with binary single-value-serialized bounds — stored in Avro as an
    array of key/value records (Avro maps require string keys)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k126_v127_{name}",
            "fields": [
                {"name": "key", "type": "long"},
                {"name": "value", "type": "bytes"},
            ],
        },
    }


def _manifest_schema(partition_fields=()) -> dict:
    """manifest_entry Avro schema; partitioned tables embed a
    ``partition`` record (one string field per spec field) in
    data_file — the manifest-level pruning metadata — and every entry
    carries optional lower/upper column bounds for stats-based file
    skipping, per spec."""
    df_fields = [
        {"name": "content", "type": "long"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
    ]
    if partition_fields:
        df_fields.append(
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [
                        {"name": c, "type": "string"}
                        for c in partition_fields
                    ],
                },
            }
        )
    df_fields += [
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {"name": "lower_bounds", "type": ["null", _bounds_type("lo")]},
        {"name": "upper_bounds", "type": ["null", _bounds_type("hi")]},
        # content=2 EQUALITY deletes name the field ids rows are
        # matched on (spec: "equality_ids"); null for data files and
        # position deletes
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "long"}],
        },
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "long"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": df_fields,
                },
            },
        ],
    }


_MANIFEST_SCHEMA = _manifest_schema()


def _bound_to_bytes(value, icetype: str | None = None) -> bytes:
    """Iceberg single-value serialization for bounds: int -> 4-byte
    little-endian (spec Appendix D — NOT 8), long -> 8-byte LE,
    double -> IEEE-754 LE, string -> UTF-8. ``icetype`` is the
    schema field type; without it an int value is serialized as
    long."""
    import struct

    if isinstance(value, bool):
        raise NotImplementedError("boolean bounds outside the subset")
    if isinstance(value, int):
        if icetype == "int":
            return struct.pack("<i", value)
        return struct.pack("<q", value)
    if isinstance(value, float):
        return struct.pack("<d", value)
    if isinstance(value, str):
        return value.encode()
    raise NotImplementedError(
        f"bound type {type(value).__name__} outside the subset"
    )


def _bound_from_bytes(raw: bytes, icetype: str):
    import struct

    if icetype == "int":
        # spec: 4-byte LE; tolerate 8-byte values (pre-fix tables
        # written by this engine stored int bounds as long)
        return struct.unpack("<i" if len(raw) == 4 else "<q", raw)[0]
    if icetype == "long":
        return struct.unpack("<q", raw)[0]
    if icetype == "double":
        return struct.unpack("<d", raw)[0]
    if icetype == "string":
        return raw.decode()
    raise NotImplementedError(
        f"bound type {icetype!r} outside the subset"
    )


def _current_schema(meta: dict) -> dict:
    """Iceberg metadata keeps EVERY historical schema in ``schemas``;
    readers resolve the one named by ``current-schema-id`` — schema
    evolution is a metadata operation, no data rewrite."""
    sid = meta.get("current-schema-id", 0)
    for s in meta["schemas"]:
        if s.get("schema-id", 0) == sid:
            return s
    raise ValueError(
        f"current-schema-id {sid} not in schemas "
        f"({[s.get('schema-id') for s in meta['schemas']]})"
    )



def _write_version_hint(meta_dir: str, version: int) -> None:
    """Atomic hint update (write-temp + os.replace): streaming
    readers poll version-hint.text between commits; a truncate-then-
    write would expose an empty file mid-rewrite."""
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp = hint + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, hint)


def _metadata_path(table_dir: str) -> str:
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        raise ValueError(
            f"{table_dir}: no metadata/version-hint.text — not an "
            "Iceberg table"
        )
    v = int(open(hint).read().strip())
    return os.path.join(table_dir, "metadata", f"v{v}.metadata.json")


def snapshot_data_files(
    table_dir: str, snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    data_filter: dict | None = None,
) -> dict:
    """Resolve the metadata tree to the live data-file set; returns
    ``{"snapshot_id", "files": [paths], "schema_fields",
    "partition_fields"}``.

    ``data_filter`` ({col: (lo, hi)}) is STATS-BASED FILE SKIPPING:
    a file is kept only if its manifest lower/upper bounds for that
    column overlap [lo, hi] (files without bounds are kept — stats
    can only prune, never lose rows). This is the second metadata
    pruning pass after partitions: at 100 TB a range predicate on a
    clustered column must shrink the file list from the manifests,
    before any footer or data page is read.

    Partitioned tables are first-class: each manifest entry's
    ``data_file.partition`` struct is the pruning metadata, so
    ``partition_filter`` ({source_col: value}) shrinks the FILE LIST
    at the manifest level — Iceberg's defining scale property (the
    scan plan never lists unmatched partitions). Filters are keyed on
    SOURCE columns and transformed per the spec field's transform
    before comparing (bucket/truncate predicate pushdown, exactly
    Iceberg's scan planning); unsupported transforms gate loudly via
    ``apply_transform``."""
    meta = json.loads(open(_metadata_path(table_dir)).read())
    schema = _current_schema(meta)
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    name_to_field = {f["name"]: f for f in schema["fields"]}
    if data_filter:
        unknown = set(data_filter) - set(name_to_field)
        if unknown:
            raise ValueError(
                f"data filter on unknown columns {sorted(unknown)}"
            )
    spec_fields = []
    for spec in meta.get("partition-specs") or []:
        for f in spec.get("fields") or []:
            transform = f.get("transform", "identity")
            sf = {
                "name": f["name"],
                "source": id_to_name.get(f.get("source-id"), f["name"]),
                "transform": transform,
            }
            if sf not in spec_fields:
                spec_fields.append(sf)
    part_fields = []
    for sf in spec_fields:
        if sf["name"] not in part_fields:
            part_fields.append(sf["name"])
    expected = {}
    if partition_filter:
        sources = {sf["source"] for sf in spec_fields}
        unknown = set(partition_filter) - sources
        if unknown:
            raise ValueError(
                f"partition filter on non-partition columns "
                f"{sorted(unknown)} (partition sources: "
                f"{sorted(sources)})"
            )
        for sf in spec_fields:
            if sf["source"] in partition_filter:
                expected[sf["name"]] = str(
                    apply_transform(
                        sf["transform"],
                        partition_filter[sf["source"]],
                    )
                )
    target = (
        meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    )
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == target), None
    )
    if snap is None:
        raise ValueError(
            f"snapshot {target} not in table metadata "
            f"(have {[s['snapshot-id'] for s in meta['snapshots']]})"
        )
    ml = read_container(open(snap["manifest-list"], "rb").read())
    files = []
    delete_files = []
    equality_deletes = []
    file_seqs: dict = {}
    for mf in ml["records"]:
        # v2 manifest lists carry the commit's sequence number; v1
        # rows migrate as 0 (spec) — it scopes which data files a
        # delete file applies to
        seq = int(mf.get("sequence_number") or 0)
        manifest = read_container(open(mf["manifest_path"], "rb").read())
        for entry in manifest["records"]:
            if entry["status"] == STATUS_DELETED:
                continue
            df = entry["data_file"]
            if df["file_format"].lower() != "parquet":
                raise NotImplementedError(
                    f"data file format {df['file_format']!r} outside "
                    "the subset"
                )
            content = df.get("content") or 0
            if content == 1:  # format v2 POSITION_DELETES
                delete_files.append(df["file_path"])
                continue
            if content == 2:  # format v2 EQUALITY deletes
                ids = df.get("equality_ids") or []
                if not ids:
                    raise ValueError(
                        f"equality-delete file {df['file_path']!r} "
                        "carries no equality_ids"
                    )
                equality_deletes.append(
                    {
                        "path": df["file_path"],
                        "equality_ids": [int(i) for i in ids],
                        "seq": seq,
                    }
                )
                continue
            if content != 0:
                raise NotImplementedError(
                    f"data file content {content} is outside the "
                    "subset — use the jar-backed path"
                )
            if expected:
                part = df.get("partition") or {}
                if any(
                    str(part.get(name)) != v
                    for name, v in expected.items()
                ):
                    continue
            if data_filter and _bounds_exclude(
                df, data_filter, name_to_field
            ):
                continue
            files.append(df["file_path"])
            file_seqs[df["file_path"]] = seq
    return {
        "snapshot_id": target,
        "files": sorted(set(files)),
        "delete_files": sorted(set(delete_files)),
        "equality_deletes": sorted(
            equality_deletes, key=lambda d: (d["seq"], d["path"])
        ),
        "file_seqs": file_seqs,
        "schema_fields": schema["fields"],
        "partition_fields": part_fields,
        "partition_spec": spec_fields,
    }


def _bounds_exclude(df: dict, data_filter: dict, name_to_field) -> bool:
    """True when the entry's bounds PROVE no row can match — a file
    with missing bounds for a filtered column is never excluded.
    Unparseable bounds (e.g. a foreign writer's unexpected width)
    keep the file too: stats may only prune, never lose rows."""
    import struct

    lower = {e["key"]: e["value"] for e in df.get("lower_bounds") or []}
    upper = {e["key"]: e["value"] for e in df.get("upper_bounds") or []}
    for col, (lo, hi) in data_filter.items():
        f = name_to_field[col]
        fid = f["id"]
        if fid not in lower or fid not in upper:
            continue
        try:
            fmin = _bound_from_bytes(lower[fid], f["type"])
            fmax = _bound_from_bytes(upper[fid], f["type"])
        except (struct.error, UnicodeDecodeError):
            continue
        if (hi is not None and fmin > hi) or (
            lo is not None and fmax < lo
        ):
            return True
    return False


_TYPE_MAP = {
    "long": "long", "int": "integer", "string": "string",
    "double": "double", "boolean": "boolean",
}


def read_iceberg_snapshot(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    data_filter: dict | None = None,
) -> DataFrame:
    """Iceberg data files CONTAIN their partition columns (unlike
    hive layout), so a pruned read is just the pruned file list with
    the full schema. ``data_filter`` additionally skips files whose
    column bounds preclude a match (the caller re-applies the exact
    predicate as a residual — bounds are a superset guarantee)."""
    from pyspark.sql import types as T

    snap = snapshot_data_files(
        table_dir, snapshot_id, partition_filter, data_filter
    )
    if not snap["files"]:
        return spark.createDataFrame(
            [], _spark_schema_from_fields(snap["schema_fields"])
        )
    df = spark.read.schema(
        _spark_schema_from_fields(snap["schema_fields"])
    ).parquet(*snap["files"])
    eqs = snap.get("equality_deletes") or []
    if not snap.get("delete_files") and not eqs:
        return df
    # format v2 MERGE-ON-READ. Position-delete files are (file_path,
    # pos) pairs; a broadcast LEFT ANTI join against the hidden
    # parquet (_metadata.file_path, _metadata.row_index) drops the
    # deleted rows at scan time — deletes stay small and broadcast
    # while the 100 TB data side streams through; no rewrite.
    # Equality-delete files (content=2) carry VALUES for their
    # equality_ids columns and apply to data files with a STRICTLY
    # LOWER data sequence number (spec scoping — same-commit and
    # later appends are untouched); each becomes a broadcast
    # null-safe LEFT ANTI join over the affected sequence range.
    from functools import reduce as _reduce
    from operator import and_ as _and

    from pyspark.sql import functions as F

    cols = df.columns
    tagged = with_row_position(df, "__mor_file", "__mor_pos")
    if snap.get("delete_files"):
        dels = spark.read.schema(
            "file_path string, pos bigint"
        ).parquet(*snap["delete_files"])
        tagged = tagged.join(
            F.broadcast(dels),
            (tagged["__mor_file"] == local_path(dels["file_path"]))
            & (tagged["__mor_pos"] == dels["pos"]),
            "left_anti",
        )
    if eqs:
        id_to_name = {
            f["id"]: f["name"] for f in snap["schema_fields"]
        }
        seq_rows = [
            (os.path.abspath(p), int(snap["file_seqs"].get(p, 0)))
            for p in snap["files"]
        ]
        seq_df = spark.createDataFrame(
            seq_rows, "__eq_file string, __eq_seq bigint"
        )
        tagged = tagged.join(
            F.broadcast(seq_df),
            tagged["__mor_file"] == seq_df["__eq_file"],
        )
        for d in eqs:
            names = [id_to_name.get(i) for i in d["equality_ids"]]
            if None in names:
                raise ValueError(
                    f"equality_ids {d['equality_ids']} name unknown "
                    "schema fields"
                )
            keys = (
                spark.read.parquet(d["path"])
                .select(names)
                .dropDuplicates()
            )
            affected = tagged.filter(F.col("__eq_seq") < d["seq"])
            rest = tagged.filter(F.col("__eq_seq") >= d["seq"])
            cond = _reduce(
                _and,
                [affected[n].eqNullSafe(keys[n]) for n in names],
            )
            tagged = affected.join(
                F.broadcast(keys), cond, "left_anti"
            ).unionByName(rest)
    return tagged.select(cols)


def _spark_schema_from_fields(schema_fields):
    from pyspark.sql import types as T

    fields = []
    for f in schema_fields:
        if f["type"] not in _TYPE_MAP:
            raise NotImplementedError(
                f"iceberg type {f['type']!r} outside the subset"
            )
        fields.append(
            T.StructField(
                f["name"],
                getattr(
                    T,
                    {
                        "long": "LongType", "integer": "IntegerType",
                        "string": "StringType", "double": "DoubleType",
                        "boolean": "BooleanType",
                    }[_TYPE_MAP[f["type"]]],
                )(),
                True,
            )
        )
    return T.StructType(fields)


class IcebergFixtureWriter:
    """Writes a REAL Iceberg metadata tree: pyarrow data files, Avro
    manifest lists / manifests via the engine's codec, versioned
    metadata JSON and the version hint."""

    def __init__(self, table_dir: str, schema_fields):
        # schema_fields: [(name, iceberg_type_string)]
        self.table_dir = table_dir
        self.meta_dir = os.path.join(table_dir, "metadata")
        self.data_dir = os.path.join(table_dir, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self.schema = {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": i + 1, "name": n, "required": False, "type": t}
                for i, (n, t) in enumerate(schema_fields)
            ],
        }
        self.snapshots = []
        self.version = 0
        self._seq = 0

    def write_data_file(self, name: str, rows: list) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.data_dir, name)
        pq.write_table(pa.Table.from_pylist(rows), path)
        return {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": len(rows),
            "file_size_in_bytes": os.path.getsize(path),
        }

    def commit_snapshot(self, entries) -> int:
        """``entries``: [(status, data_file_dict)]; writes one
        manifest + manifest list and a new metadata version."""
        self._seq += 1
        snap_id = 1000 + self._seq
        manifest_path = os.path.join(
            self.meta_dir, f"manifest-{self._seq}.avro"
        )
        with open(manifest_path, "wb") as fh:
            fh.write(
                write_container(
                    [
                        {"status": st, "snapshot_id": snap_id,
                         "data_file": df}
                        for st, df in entries
                    ],
                    _MANIFEST_SCHEMA,
                    bytes(range(16)),
                    codec="deflate",
                )
            )
        ml_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-manifest-list.avro"
        )
        with open(ml_path, "wb") as fh:
            fh.write(
                write_container(
                    [
                        {
                            "manifest_path": manifest_path,
                            "manifest_length": os.path.getsize(
                                manifest_path
                            ),
                            "partition_spec_id": 0,
                            "added_snapshot_id": snap_id,
                        }
                    ],
                    _MANIFEST_LIST_SCHEMA,
                    bytes(range(16)),
                )
            )
        self.snapshots.append(
            {
                "snapshot-id": snap_id,
                "timestamp-ms": 0,
                "manifest-list": ml_path,
                "summary": {"operation": "append"},
            }
        )
        self.version += 1
        meta = {
            "format-version": 1,
            "table-uuid": "fixture-table",
            "location": self.table_dir,
            "schemas": [self.schema],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "snapshots": self.snapshots,
            "current-snapshot-id": snap_id,
        }
        with open(
            os.path.join(self.meta_dir, f"v{self.version}.metadata.json"),
            "w",
        ) as fh:
            json.dump(meta, fh)
        _write_version_hint(self.meta_dir, self.version)
        return snap_id


class IcebergCommitter:
    """Stateless-from-disk APPEND/REWRITE committer — the write path
    mirroring ``snapshot_data_files``'s read path, for streaming
    sinks: every commit reloads the current metadata tree, so
    foreachBatch replays and crash-restarts always see the
    authoritative table state (the metadata tree IS the state; no
    in-memory ledger to lose).

    Incremental commit shape matches real Iceberg: a new snapshot
    writes ONE new manifest and a manifest LIST that carries forward
    the still-live prior manifests — O(batch) work per commit, not
    O(table). A rewrite (compaction) commit drops the superseded
    manifest from the list and records the removed files as DELETED
    entries in the new manifest, leaving the parquet on disk as a
    tombstone decoy exactly like the read fixtures."""

    def __init__(self, table_dir: str, schema_fields, partition_by=()):
        self.table_dir = table_dir
        self.meta_dir = os.path.join(table_dir, "metadata")
        self.data_dir = os.path.join(table_dir, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        names = [n for n, _ in schema_fields]
        # partition_by: column names (identity) and/or
        # (column, "bucket[N]"/"truncate[W]") transform pairs
        self.spec_fields = normalize_partition_spec(partition_by, names)
        self.partition_by = tuple(partition_by)
        self.manifest_schema = _manifest_schema(
            [sf["name"] for sf in self.spec_fields]
        )
        self.partition_spec_fields = [
            {
                "name": sf["name"],
                "transform": sf["transform"],
                "source-id": sf["source_id"],
                "field-id": sf["field_id"],
            }
            for sf in self.spec_fields
        ]
        self.schema = {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": i + 1, "name": n, "required": False, "type": t}
                for i, (n, t) in enumerate(schema_fields)
            ],
        }

    def evolve_schema(self, add_fields) -> None:
        """Append columns (``[(name, type)]``) as a METADATA-ONLY
        schema evolution: fresh field ids (never reused — the spec's
        invariant that keeps bounds/partition source-ids stable), a
        bumped schema-id, and the next commit records the new schema
        alongside the full history. Existing data files are
        untouched; readers fill the new columns with null."""
        max_id = max(f["id"] for f in self.schema["fields"])
        self.schema = {
            "type": "struct",
            "schema-id": self.schema.get("schema-id", 0) + 1,
            "fields": list(self.schema["fields"])
            + [
                {
                    "id": max_id + 1 + i,
                    "name": n,
                    "required": False,
                    "type": t,
                }
                for i, (n, t) in enumerate(add_fields)
            ],
        }

    def _current_meta(self) -> dict | None:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if not os.path.exists(hint):
            return None
        v = int(open(hint).read().strip())
        return json.loads(
            open(
                os.path.join(self.meta_dir, f"v{v}.metadata.json")
            ).read()
        )

    def committed_batch_id(self) -> int:
        """Highest sink batch id recorded in any snapshot summary, or
        -1 — the replay/idempotence check (Iceberg's analogue of the
        Delta txn action)."""
        meta = self._current_meta()
        if meta is None:
            return -1
        return max(
            (
                int(s.get("summary", {}).get("spark-graft-batch-id", -1))
                for s in meta["snapshots"]
            ),
            default=-1,
        )

    def data_file_entry(self, path: str, partition: dict | None = None) -> dict:
        """data_file record from a parquet footer (metadata-only read
        — O(KB) per file on the driver, never the data), including
        lower/upper column bounds (field-id-keyed, single-value
        binary serialization) for stats-based file skipping."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        entry = {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": md.num_rows,
            "file_size_in_bytes": os.path.getsize(path),
        }
        name_to_field = {
            f["name"]: f for f in self.schema["fields"]
        }
        lower, upper = [], []
        for name, (lo, hi) in sorted(parquet_column_stats(md).items()):
            f = name_to_field.get(name)
            if f is None:
                continue
            fid, ftype = f["id"], f["type"]
            try:
                lower.append(
                    {"key": fid, "value": _bound_to_bytes(lo, ftype)}
                )
                upper.append(
                    {"key": fid, "value": _bound_to_bytes(hi, ftype)}
                )
            except NotImplementedError:
                continue
        if lower:
            entry["lower_bounds"] = lower
            entry["upper_bounds"] = upper
        if self.spec_fields:
            # keys are spec-field NAMES; values are the (already
            # transformed) partition-struct values
            entry["partition"] = {
                sf["name"]: str((partition or {}).get(sf["name"]))
                for sf in self.spec_fields
            }
        return entry

    def position_delete_entry(self, name: str, deletes) -> dict:
        """Write a format-v2 POSITION-DELETE parquet file —
        ``deletes``: [(data_file_path, row_position)] — and return
        its manifest entry (content=1). Merge-on-read: the data files
        are untouched; readers anti-join these (file, pos) pairs
        against the hidden parquet row index. Unpartitioned subset
        (partitioned delete manifests gate loudly)."""
        if self.spec_fields:
            raise NotImplementedError(
                "position deletes on partitioned tables are outside "
                "the subset (per-partition delete manifests; use the "
                "jar-backed path)"
            )
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.data_dir, name)
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        [p for p, _ in deletes], pa.string()
                    ),
                    "pos": pa.array(
                        [int(p) for _, p in deletes], pa.int64()
                    ),
                }
            ),
            path,
        )
        return {
            "content": 1,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": len(deletes),
            "file_size_in_bytes": os.path.getsize(path),
        }

    def equality_delete_entry(
        self, name: str, rows: list, equality_cols
    ) -> dict:
        """Write a format-v2 EQUALITY-DELETE parquet — ``rows``:
        [{col: value}] over ``equality_cols`` — and return its
        manifest entry (content=2, equality_ids). A data row is
        deleted when its values null-safe-equal ANY delete row on
        those columns, scoped to data files with a strictly lower
        sequence number (spec). Unpartitioned subset."""
        if self.spec_fields:
            raise NotImplementedError(
                "equality deletes on partitioned tables are outside "
                "the subset (per-partition delete manifests; use the "
                "jar-backed path)"
            )
        import pyarrow as pa
        import pyarrow.parquet as pq

        name_to_field = {
            f["name"]: f for f in self.schema["fields"]
        }
        unknown = [c for c in equality_cols if c not in name_to_field]
        if unknown:
            raise ValueError(
                f"equality columns {unknown} not in schema"
            )
        _PA = {
            "long": pa.int64(), "int": pa.int32(),
            "double": pa.float64(), "string": pa.string(),
            "boolean": pa.bool_(),
        }
        arrow_schema = pa.schema(
            [
                (c, _PA[name_to_field[c]["type"]])
                for c in equality_cols
            ]
        )
        path = os.path.join(self.data_dir, name)
        pq.write_table(
            pa.Table.from_pylist(
                [{c: r.get(c) for c in equality_cols} for r in rows],
                schema=arrow_schema,
            ),
            path,
        )
        return {
            "content": 2,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": len(rows),
            "file_size_in_bytes": os.path.getsize(path),
            "equality_ids": [
                name_to_field[c]["id"] for c in equality_cols
            ],
        }

    def delete_file_entry(self, path: str) -> dict:
        """Manifest entry (content=1) for an EXISTING position-delete
        parquet file — the distributed-write path: a Spark job lands
        the (file_path, pos) parquet, the driver wraps its footer."""
        import pyarrow.parquet as pq

        if self.spec_fields:
            raise NotImplementedError(
                "position deletes on partitioned tables are outside "
                "the subset (per-partition delete manifests; use the "
                "jar-backed path)"
            )
        return {
            "content": 1,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": pq.ParquetFile(path).metadata.num_rows,
            "file_size_in_bytes": os.path.getsize(path),
        }

    def commit(
        self, batch_id: int, added: list, removed: list = (),
        drop_manifests: tuple = (),
        operation: str | None = None,
    ) -> int:
        """One snapshot: ``added``/``removed`` are data_file dicts
        for the NEW manifest; ``drop_manifests`` names manifest paths
        whose entries this commit supersedes (compaction).
        ``operation`` overrides the summary operation (e.g.
        ``delete`` for a position-delete commit — which correctly
        gates incremental append scans across it).

        Emits FORMAT-VERSION 2 metadata (required the moment a
        content=1 position-delete manifest exists — v1 has no content
        field and no sequence numbers scoping which data files the
        deletes apply to): every commit assigns the next sequence
        number, the snapshot records it, and data vs delete entries
        land in SEPARATE manifests (v2 forbids mixing) whose
        manifest-list rows carry content + sequence bounds."""
        meta = self._current_meta()
        version = 0 if meta is None else (
            int(open(
                os.path.join(self.meta_dir, "version-hint.text")
            ).read().strip()) + 1
        )
        snap_id = 1000 + version
        seq = (
            0 if meta is None
            else int(meta.get("last-sequence-number", 0)) + 1
        )
        # v2: one manifest holds data files XOR delete files
        # (position AND equality delete entries are both "deletes"
        # for the manifest-list content flag)
        def _is_delete(df):
            return (df.get("content") or 0) in (1, 2)

        groups = []  # (list_content, manifest_path, entries)
        data_entries = [
            {"status": STATUS_ADDED, "snapshot_id": snap_id,
             "data_file": df}
            for df in added if not _is_delete(df)
        ] + [
            {"status": STATUS_DELETED, "snapshot_id": snap_id,
             "data_file": df}
            for df in removed if not _is_delete(df)
        ]
        delete_entries = [
            {"status": STATUS_ADDED, "snapshot_id": snap_id,
             "data_file": df}
            for df in added if _is_delete(df)
        ] + [
            {"status": STATUS_DELETED, "snapshot_id": snap_id,
             "data_file": df}
            for df in removed if _is_delete(df)
        ]
        name = f"manifest-b{batch_id:05d}"
        if removed:
            name += "c"  # compaction rewrite manifest
        if data_entries or not delete_entries:
            groups.append(
                (0, os.path.join(self.meta_dir, f"{name}.avro"),
                 data_entries)
            )
        if delete_entries:
            groups.append(
                (1, os.path.join(self.meta_dir, f"{name}d.avro"),
                 delete_entries)
            )
        for _, manifest_path, entries in groups:
            with open(manifest_path, "wb") as fh:
                fh.write(
                    write_container(
                        entries, self.manifest_schema,
                        bytes(range(16)), codec="deflate",
                    )
                )
        carried = []
        if meta is not None:
            cur = next(
                s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"]
            )
            carried = [
                # pre-v2 rows lack content/sequence fields; the v1->
                # v2 migration rule assigns them 0
                {
                    "content": r.get("content", 0),
                    "sequence_number": r.get("sequence_number", 0),
                    "min_sequence_number": r.get(
                        "min_sequence_number", 0
                    ),
                    **{
                        k: r[k]
                        for k in (
                            "manifest_path", "manifest_length",
                            "partition_spec_id", "added_snapshot_id",
                        )
                    },
                }
                for r in read_container(
                    open(cur["manifest-list"], "rb").read()
                )["records"]
                if r["manifest_path"] not in set(drop_manifests)
            ]
        ml_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-manifest-list.avro"
        )
        with open(ml_path, "wb") as fh:
            fh.write(
                write_container(
                    carried
                    + [
                        {
                            "manifest_path": manifest_path,
                            "manifest_length": os.path.getsize(
                                manifest_path
                            ),
                            "partition_spec_id": 0,
                            "content": list_content,
                            "sequence_number": seq,
                            "min_sequence_number": seq,
                            "added_snapshot_id": snap_id,
                        }
                        for list_content, manifest_path, _ in groups
                    ],
                    _MANIFEST_LIST_SCHEMA_V2,
                    bytes(range(16)),
                )
            )
        snapshots = [] if meta is None else list(meta["snapshots"])
        snapshots.append(
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": 0,
                "manifest-list": ml_path,
                "summary": {
                    "operation": operation
                    or ("overwrite" if removed else "append"),
                    "spark-graft-batch-id": str(batch_id),
                },
            }
        )
        sid = self.schema.get("schema-id", 0)
        schemas = [] if meta is None else [
            s for s in meta["schemas"] if s.get("schema-id", 0) != sid
        ]
        schemas.append(self.schema)
        new_meta = {
            "format-version": 2,
            "table-uuid": "stream-table",
            "location": self.table_dir,
            "last-sequence-number": seq,
            "schemas": schemas,
            "current-schema-id": sid,
            "partition-specs": [
                {"spec-id": 0, "fields": self.partition_spec_fields}
            ],
            "default-spec-id": 0,
            "snapshots": snapshots,
            "current-snapshot-id": snap_id,
        }
        with open(
            os.path.join(self.meta_dir, f"v{version}.metadata.json"), "w"
        ) as fh:
            json.dump(new_meta, fh)
        _write_version_hint(self.meta_dir, version)
        return snap_id


def expire_snapshots(table_dir: str, keep: int = 1) -> dict:
    """Iceberg's expire_snapshots maintenance action: drop all but
    the newest ``keep`` snapshots from the metadata and delete every
    file reachable ONLY through expired snapshots — manifest lists,
    manifests, and data files no longer live in any retained
    snapshot (which is what finally removes compaction tombstones
    from disk). Time travel to an expired snapshot id then gates
    loudly, exactly like the real action.

    Returns ``{"deleted": [...], "retained_snapshot_ids": [...]}``."""
    meta_path = _metadata_path(table_dir)
    meta = json.loads(open(meta_path).read())
    snaps = meta["snapshots"]
    if keep < 1:
        raise ValueError("expire_snapshots keeps at least 1 snapshot")
    retained, expired = snaps[-keep:], snaps[:-keep]
    if meta["current-snapshot-id"] not in {
        s["snapshot-id"] for s in retained
    }:
        raise ValueError("cannot expire the current snapshot")
    if not expired:
        return {
            "deleted": [],
            "retained_snapshot_ids": [s["snapshot-id"] for s in retained],
        }

    def reachable(snapshot_list):
        """(manifest_lists, manifests, live_data, all_data)."""
        mls, mans, live, alldata = set(), set(), set(), set()
        for s in snapshot_list:
            mls.add(s["manifest-list"])
            for mf in read_container(
                open(s["manifest-list"], "rb").read()
            )["records"]:
                mans.add(mf["manifest_path"])
                for entry in read_container(
                    open(mf["manifest_path"], "rb").read()
                )["records"]:
                    p = entry["data_file"]["file_path"]
                    alldata.add(p)
                    if entry["status"] != STATUS_DELETED:
                        live.add(p)
        return mls, mans, live, alldata

    r_mls, r_mans, r_live, _ = reachable(retained)
    e_mls, e_mans, _, e_all = reachable(expired)
    deleted = []
    for path in sorted(
        (e_mls - r_mls) | (e_mans - r_mans) | (e_all - r_live)
    ):
        if os.path.exists(path):
            os.remove(path)
            deleted.append(path)
    version = int(
        open(
            os.path.join(table_dir, "metadata", "version-hint.text")
        ).read().strip()
    ) + 1
    meta["snapshots"] = retained
    with open(
        os.path.join(table_dir, "metadata", f"v{version}.metadata.json"),
        "w",
    ) as fh:
        json.dump(meta, fh)
    _write_version_hint(os.path.join(table_dir, "metadata"), version)
    return {
        "deleted": deleted,
        "retained_snapshot_ids": [s["snapshot-id"] for s in retained],
    }


def incremental_append_files(
    table_dir: str, from_snapshot: int, to_snapshot: int | None = None,
) -> dict:
    """Iceberg's incremental APPEND scan (the spec's incremental read
    contract): data files added by snapshots in
    ``(from_snapshot, to_snapshot]``, resolved from the TO snapshot's
    manifest list via each manifest's ``added_snapshot_id`` — an
    O(manifests) metadata walk, no full-table diff. Snapshots whose
    summary operation is not ``append`` (overwrite/compaction) gate
    loudly: their rewritten adds would double-count rows already seen
    at ``from_snapshot``."""
    meta = json.loads(open(_metadata_path(table_dir)).read())
    schema = _current_schema(meta)
    snaps = meta["snapshots"]
    ids = [s["snapshot-id"] for s in snaps]
    if from_snapshot not in ids:
        raise ValueError(
            f"from_snapshot {from_snapshot} not in table ({ids})"
        )
    to = meta["current-snapshot-id"] if to_snapshot is None else to_snapshot
    if to not in ids:
        raise ValueError(f"to_snapshot {to} not in table ({ids})")
    lo, hi = ids.index(from_snapshot), ids.index(to)
    if lo > hi:
        raise ValueError(f"from {from_snapshot} is newer than to {to}")
    in_range = set()
    for s in snaps[lo + 1 : hi + 1]:
        op = (s.get("summary") or {}).get("operation", "append")
        if op != "append":
            raise NotImplementedError(
                f"snapshot {s['snapshot-id']} operation {op!r} in the "
                "incremental range — append-scan semantics only; "
                "changelog reads need the jar-backed path"
            )
        in_range.add(s["snapshot-id"])
    to_snap = next(s for s in snaps if s["snapshot-id"] == to)
    ml = read_container(open(to_snap["manifest-list"], "rb").read())
    files = []
    for mf in ml["records"]:
        if mf["added_snapshot_id"] not in in_range:
            continue
        manifest = read_container(open(mf["manifest_path"], "rb").read())
        for entry in manifest["records"]:
            if entry["status"] == STATUS_ADDED:
                files.append(entry["data_file"]["file_path"])
    return {
        "files": sorted(set(files)),
        "from": from_snapshot,
        "to": to,
        "schema_fields": schema["fields"],
    }


def read_iceberg_incremental(
    spark: SparkSession, table_dir: str, from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """The incremental append scan as a DataFrame: exactly the rows
    appended in ``(from, to]``."""
    inc = incremental_append_files(table_dir, from_snapshot, to_snapshot)
    schema = _spark_schema_from_fields(inc["schema_fields"])
    if not inc["files"]:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*inc["files"])


def iceberg_changelog(
    spark: SparkSession, table_dir: str, from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """CHANGELOG scan, Delta ``table_changes``'s Iceberg twin: for
    each snapshot in ``(from, to]``,

    * an ``append`` snapshot emits its ADDED data files' rows as
      ``_change_type='insert'``;
    * a ``delete`` snapshot emits the rows its NEW position-delete
      files mark (minus any positions already deleted by earlier
      snapshots) as ``_change_type='delete'``, recovered from the
      untouched data files via a broadcast LEFT SEMI join on the
      hidden row index;
    * ``overwrite`` (compaction/rewrite) snapshots gate loudly.

    Each row carries ``_snapshot_id``. Manifest selection is by
    ``added_snapshot_id`` within each snapshot's own manifest list —
    O(manifests) metadata per snapshot."""
    from pyspark.sql import functions as F

    meta = json.loads(open(_metadata_path(table_dir)).read())
    schema = _current_schema(meta)
    spark_schema = _spark_schema_from_fields(schema["fields"])
    out_cols = [f["name"] for f in schema["fields"]]
    snaps = meta["snapshots"]
    ids = [s["snapshot-id"] for s in snaps]
    if from_snapshot not in ids:
        raise ValueError(
            f"from_snapshot {from_snapshot} not in table ({ids})"
        )
    to = meta["current-snapshot-id"] if to_snapshot is None else to_snapshot
    if to not in ids:
        raise ValueError(f"to_snapshot {to} not in table ({ids})")
    lo, hi = ids.index(from_snapshot), ids.index(to)
    if lo > hi:
        raise ValueError(f"from {from_snapshot} is newer than to {to}")

    def _delete_pairs(delete_paths) -> set:
        import pyarrow.parquet as pq

        pairs = set()
        for p in delete_paths:
            for row in pq.read_table(p).to_pylist():
                pairs.add((row["file_path"], int(row["pos"])))
        return pairs

    # positions already deleted BEFORE the range start: every delete
    # file live in any snapshot up to from_snapshot
    seen_delete_files: set = set()
    for s in snaps[: lo + 1]:
        ml = read_container(open(s["manifest-list"], "rb").read())
        for mf in ml["records"]:
            manifest = read_container(
                open(mf["manifest_path"], "rb").read()
            )
            for entry in manifest["records"]:
                df_ = entry["data_file"]
                if (df_.get("content") or 0) == 1:
                    seen_delete_files.add(df_["file_path"])
    seen_pairs = _delete_pairs(seen_delete_files)

    parts = []
    for s in snaps[lo + 1 : hi + 1]:
        sid = s["snapshot-id"]
        op = (s.get("summary") or {}).get("operation", "append")
        if op not in ("append", "delete"):
            raise NotImplementedError(
                f"snapshot {sid} operation {op!r} in the changelog "
                "range — rewrites need the jar-backed path"
            )
        ml = read_container(open(s["manifest-list"], "rb").read())
        added_data, added_deletes = [], []
        for mf in ml["records"]:
            if mf["added_snapshot_id"] != sid:
                continue
            manifest = read_container(
                open(mf["manifest_path"], "rb").read()
            )
            for entry in manifest["records"]:
                if entry["status"] != STATUS_ADDED:
                    continue
                df_ = entry["data_file"]
                content = df_.get("content") or 0
                if content == 1:
                    added_deletes.append(df_["file_path"])
                elif content == 2:
                    raise NotImplementedError(
                        f"snapshot {sid} adds an equality-delete "
                        "file in the changelog range — the derived "
                        "feed recovers deleted rows by position; "
                        "equality-delete changelogs need the "
                        "jar-backed path"
                    )
                else:
                    added_data.append(df_["file_path"])
        if added_data:
            parts.append(
                spark.read.schema(spark_schema)
                .parquet(*sorted(added_data))
                .withColumn("_change_type", F.lit("insert"))
                .withColumn(
                    "_snapshot_id", F.lit(sid).cast("long")
                )
            )
        if added_deletes:
            new_pairs = sorted(
                _delete_pairs(added_deletes) - seen_pairs
            )
            seen_pairs.update(new_pairs)
            seen_delete_files.update(added_deletes)
            if new_pairs:
                dels = spark.createDataFrame(
                    [(p, int(x)) for p, x in new_pairs],
                    "file_path string, pos bigint",
                )
                base = spark.read.schema(spark_schema).parquet(
                    *sorted({p for p, _ in new_pairs})
                )
                tagged = with_row_position(base, "__cl_file", "__cl_pos")
                parts.append(
                    tagged.join(
                        F.broadcast(dels),
                        (tagged["__cl_file"] == local_path(dels["file_path"]))
                        & (tagged["__cl_pos"] == dels["pos"]),
                        "left_semi",
                    )
                    .select(out_cols)
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn(
                        "_snapshot_id", F.lit(sid).cast("long")
                    )
                )
    if not parts:
        from pyspark.sql import types as T

        empty = T.StructType(
            spark_schema.fields
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_snapshot_id", T.LongType(), True),
            ]
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
