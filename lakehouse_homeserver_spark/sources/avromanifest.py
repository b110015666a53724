"""From-spec Avro manifests: the Iceberg on-disk metadata interop layer.

The snapshot format's commit log is JSON (`sources/snapshot.py`),
and the REST catalog documents an ``x-manifest``/``x-entry``
divergence from the Iceberg spec — a third-party Iceberg reader
expects *Avro* manifest lists and manifest files. This module
implements, from public specs only:

- the **Avro 1.11 binary encoding and object-container file (OCF)
  format** (Apache Avro specification: zigzag-varint longs, blocked
  arrays/maps, union indices, ``Obj\\x01`` magic, file-metadata map,
  16-byte sync markers, ``null``/``deflate`` codecs — deflate is raw
  RFC1951 as the spec requires);
- the **Iceberg v2 manifest-list and manifest schemas** (Iceberg table
  spec "Manifests" / "Manifest Lists" sections, field-ids included in
  the Avro schema JSON as the spec mandates) plus the **Appendix D
  single-value binary serialization** for column bounds
  (little-endian ints/longs/floats/doubles, UTF-8 strings);
- an **exporter** that materializes spec-shaped Avro metadata beside
  the JSON log (``<table>/_log/avro/``) for any snapshot, and an
  **independent reader** that reconstructs the live file set and
  column bounds from the Avro bytes alone — no JSON consulted — so a
  round-trip certificate can hash-check the two routes against each
  other (driver query ``a58_avro_manifest`` in operators/interop.py).

Scope kept honest: data-manifests only; a table with pending
merge-on-read delete files raises ``NotImplementedError`` NAMED (the
delete-manifest encoding is a documented seam, pinned by pytest).
Everything here is driver-side metadata work — O(files) per snapshot,
never touching data bytes; at 100 TB a manifest list is a few MB.

No Avro library exists in this environment and none is vendored; the
encoder/decoder below is written from the published specification,
same posture as the JPEG/GIF/G.711 codec tier.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib

from .snapshot import _DATA_DIR

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# Avro binary primitives (Avro spec, "Binary Encoding")
# ---------------------------------------------------------------------------

def _write_long(out: io.BytesIO, n: int) -> None:
    """Zigzag + base-128 varint (little-endian groups of 7 bits)."""
    z = (n << 1) if n >= 0 else ((-n) << 1) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        c = buf.read(1)
        if not c:
            raise ValueError("truncated Avro varint")
        b = c[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("Avro varint too long")
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _schema_type(schema):
    return schema["type"] if isinstance(schema, dict) else schema


def _encode(out: io.BytesIO, schema, value) -> None:
    """Schema-driven generic datum writer. Unions must be
    [null, X]-shaped (the only shape the Iceberg schemas use)."""
    if isinstance(schema, list):  # union
        if value is None:
            if "null" not in schema:
                raise ValueError("None for non-nullable union")
            _write_long(out, schema.index("null"))
            return
        branch = next(
            (i, s) for i, s in enumerate(schema) if s != "null"
        )
        _write_long(out, branch[0])
        _encode(out, branch[1], value)
        return
    t = _schema_type(schema)
    if t == "null":
        if value is not None:
            raise ValueError("non-None for null schema")
    elif t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", float(value)))
    elif t == "double":
        out.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        b = bytes(value)
        _write_long(out, len(b))
        out.write(b)
    elif t == "string":
        b = str(value).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] not in value:
                raise ValueError(f"record missing field {f['name']!r}")
            _encode(out, f["type"], value[f["name"]])
    elif t == "array":
        items = list(value)
        if items:
            _write_long(out, len(items))
            for it in items:
                _encode(out, schema["items"], it)
        _write_long(out, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            _write_long(out, len(entries))
            for k, v in entries.items():
                _encode(out, "string", k)
                _encode(out, schema["values"], v)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


def _decode(buf: io.BytesIO, schema):
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} out of range")
        branch = schema[idx]
        if branch == "null":
            return None
        return _decode(buf, branch)
    t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        c = buf.read(1)
        if c not in (b"\x00", b"\x01"):
            raise ValueError(f"bad Avro boolean byte {c!r}")
        return c == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", _exact(buf, 4))[0]
    if t == "double":
        return struct.unpack("<d", _exact(buf, 8))[0]
    if t == "bytes":
        return _exact(buf, _nonneg(_read_long(buf), "bytes length"))
    if t == "string":
        return _exact(buf, _nonneg(_read_long(buf), "string length")).decode(
            "utf-8"
        )
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec-legal)
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode(buf, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = _decode(buf, "string")
                out[k] = _decode(buf, schema["values"])
    raise ValueError(f"unsupported Avro type {t!r}")


def _exact(buf: io.BytesIO, n: int) -> bytes:
    b = buf.read(n)
    if len(b) != n:
        raise ValueError(f"truncated Avro data: wanted {n}, got {len(b)}")
    return b


def _nonneg(n: int, what: str) -> int:
    if n < 0:
        raise ValueError(f"negative Avro {what}: {n}")
    if n > 1 << 30:
        raise ValueError(f"implausible Avro {what}: {n} (>1 GiB)")
    return n


# ---------------------------------------------------------------------------
# Object container files (Avro spec, "Object Container Files")
# ---------------------------------------------------------------------------

def write_ocf(
    schema: dict,
    records: list[dict],
    *,
    codec: str = "deflate",
    metadata: dict[str, bytes] | None = None,
) -> bytes:
    """Serialize records to OCF bytes. The sync marker is derived from
    the content (md5 of schema+payload) so identical inputs produce
    identical files — re-export is byte-stable, no wall-clock or RNG."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    schema_json = json.dumps(schema, separators=(",", ":"))
    payload = io.BytesIO()
    for r in records:
        _encode(payload, schema, r)
    raw = payload.getvalue()
    sync = hashlib.md5(schema_json.encode() + b"\x00" + raw).digest()

    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    for k, v in (metadata or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode("utf-8")

    out = io.BytesIO()
    out.write(MAGIC)
    _encode(
        out,
        {"type": "map", "values": "bytes"},
        meta,
    )
    out.write(sync)
    if records:
        block = (
            zlib.compress(raw)[2:-4] if codec == "deflate" else raw
        )  # raw RFC1951: strip zlib header+adler32 per the Avro spec
        _write_long(out, len(records))
        _write_long(out, len(block))
        out.write(block)
        out.write(sync)
    return out.getvalue()


def read_ocf(blob: bytes) -> tuple[dict, dict[str, bytes], list]:
    """Parse OCF bytes -> (schema, file-metadata, records). LOUD on
    bad magic, unknown codec, sync-marker mismatch, truncation, or
    trailing garbage."""
    buf = io.BytesIO(bytes(blob))
    if _exact(buf, 4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta = _decode(buf, {"type": "map", "values": "bytes"})
    if "avro.schema" not in meta:
        raise ValueError("OCF missing avro.schema metadata")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = _exact(buf, 16)
    records: list = []
    while True:
        probe = buf.read(1)
        if not probe:
            return schema, meta, records
        buf.seek(-1, io.SEEK_CUR)
        n = _read_long(buf)
        size = _nonneg(_read_long(buf), "block size")
        block = _exact(buf, size)
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        bb = io.BytesIO(block)
        for _ in range(_nonneg(n, "block record count")):
            records.append(_decode(bb, schema))
        if bb.read(1):
            raise ValueError("trailing bytes inside Avro block")
        if _exact(buf, 16) != sync:
            raise ValueError("Avro sync marker mismatch")


# ---------------------------------------------------------------------------
# Iceberg v2 manifest schemas (Iceberg table spec; field-ids mandatory)
# ---------------------------------------------------------------------------

def _f(name, typ, fid, doc=None):
    d = {"name": name, "type": typ, "field-id": fid}
    if doc:
        d["doc"] = doc
    return d


def _opt(typ):
    return ["null", typ]


def _id_bytes_map(name, key_fid, value_fid):
    """Iceberg encodes map<int, bytes> in Avro as an array of
    key/value records (the k*_v* form the spec prescribes for
    non-string keys), annotated logicalType map."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                _f("key", "int", key_fid),
                _f("value", "bytes", value_fid),
            ],
        },
    }


FIELD_SUMMARY = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", _opt("boolean"), 518),
        _f("lower_bound", _opt("bytes"), 510),
        _f("upper_bound", _opt("bytes"), 511),
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517, "0=data, 1=deletes"),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        _f(
            "partitions",
            _opt({"type": "array", "items": FIELD_SUMMARY}),
            507,
        ),
        _f("key_metadata", _opt("bytes"), 519),
    ],
}

DATA_FILE = {
    "type": "record",
    "name": "r2",
    "fields": [
        _f("content", "int", 134, "0=data, 1=position deletes, 2=equality"),
        _f("file_path", "string", 100),
        _f("file_format", "string", 101),
        # unpartitioned spec -> empty partition struct (spec-legal)
        _f(
            "partition",
            {"type": "record", "name": "r102", "fields": []},
            102,
        ),
        _f("record_count", "long", 103),
        _f("file_size_in_bytes", "long", 104),
        _f("lower_bounds", _opt(_id_bytes_map("k126_v127", 126, 127)), 125),
        _f("upper_bounds", _opt(_id_bytes_map("k129_v130", 129, 130)), 128),
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        _f("status", "int", 0, "0=existing, 1=added, 2=deleted"),
        _f("snapshot_id", _opt("long"), 1),
        _f("sequence_number", _opt("long"), 3),
        _f("file_sequence_number", _opt("long"), 4),
        _f("data_file", DATA_FILE, 2),
    ],
}


# ---------------------------------------------------------------------------
# Iceberg single-value serialization (spec Appendix D) for bounds
# ---------------------------------------------------------------------------

_BOUND_PACK = {"integer": "<i", "int": "<i", "long": "<q", "bigint": "<q",
               "float": "<f", "double": "<d"}


def bound_to_bytes(spark_type: str, value) -> bytes:
    """Column bound -> Iceberg single-value binary (little-endian
    numerics, UTF-8 strings)."""
    fmt = _BOUND_PACK.get(spark_type)
    if fmt:
        return struct.pack(fmt, value)
    if spark_type == "string":
        return str(value).encode("utf-8")
    raise ValueError(f"no bound serialization for type {spark_type!r}")


def bound_from_bytes(spark_type: str, b: bytes):
    fmt = _BOUND_PACK.get(spark_type)
    if fmt:
        n = struct.calcsize(fmt)
        if len(b) != n:
            raise ValueError(
                f"bound for {spark_type!r} must be {n} bytes, got {len(b)}"
            )
        return struct.unpack(fmt, b)[0]
    if spark_type == "string":
        return bytes(b).decode("utf-8")
    raise ValueError(f"no bound serialization for type {spark_type!r}")


def _field_ids(schema_json: str) -> dict[str, tuple[int, str]]:
    """{column: (field_id, simple_type)} — initial assignment rule
    (1-based, schema order), matching Iceberg's fresh-table ids."""
    fields = json.loads(schema_json)["fields"]
    return {
        f["name"]: (i + 1, f["type"] if isinstance(f["type"], str) else "")
        for i, f in enumerate(fields)
    }


# ---------------------------------------------------------------------------
# exporter + independent reader
# ---------------------------------------------------------------------------

AVRO_DIR = os.path.join("_log", "avro")


def export_avro_manifests(table, version: int | None = None) -> dict:
    """Write the Iceberg-shaped Avro metadata for one snapshot beside
    the JSON log: ``snap-<v>-manifest.avro`` (manifest_entry records,
    one per live data file, ADDED vs EXISTING derived from the
    entry's own bookkeeping) and ``snap-<v>.manifest-list.avro``.
    Returns {"manifest_list": path, "manifest": path, "n_files": n}.

    Driver-side metadata work, O(live files): per file one parquet
    FOOTER read for record_count (no data bytes) — the same cost
    class as commit-time stats harvesting."""
    import pyarrow.parquet as pq

    v = table.latest_version() if version is None else version
    e = table.entry(v)
    if e.get("delete_files"):
        raise NotImplementedError(
            "Avro export of merge-on-read DELETE manifests is a "
            "documented seam (data manifests only); compact with "
            "rewrite_deletes() first"
        )
    ids = _field_ids(e["schema"])
    added = set(e.get("added", ()))
    seqs = e.get("seq", {})
    snapshot_id = int(v)

    entries = []
    total_rows = 0
    for fname in e["manifest"]:
        fpath = os.path.join(table.path, _DATA_DIR, fname)
        nrows = pq.ParquetFile(fpath).metadata.num_rows
        total_rows += nrows
        stats = e.get("stats", {}).get(fname, {})
        lowers, uppers = [], []
        for col, (lo, hi) in sorted(stats.items()):
            fid, typ = ids.get(col, (None, ""))
            if fid is None or typ not in _BOUND_PACK and typ != "string":
                continue
            lowers.append({"key": fid, "value": bound_to_bytes(typ, lo)})
            uppers.append({"key": fid, "value": bound_to_bytes(typ, hi)})
        seq = int(seqs.get(fname, v))
        entries.append(
            {
                "status": 1 if fname in added else 0,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": fname,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(fpath),
                    "lower_bounds": lowers or None,
                    "upper_bounds": uppers or None,
                },
            }
        )

    avro_dir = os.path.join(table.path, AVRO_DIR)
    os.makedirs(avro_dir, exist_ok=True)
    man_name = f"snap-{v}-manifest.avro"
    man_path = os.path.join(avro_dir, man_name)
    man_bytes = write_ocf(
        MANIFEST_SCHEMA,
        entries,
        metadata={
            "schema": e["schema"],
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )
    _atomic_write(man_path, man_bytes)

    n_added = sum(1 for x in entries if x["status"] == 1)
    added_rows = sum(
        x["data_file"]["record_count"] for x in entries if x["status"] == 1
    )
    seq_vals = [x["sequence_number"] for x in entries] or [int(v)]
    mlist = {
        "manifest_path": os.path.join(AVRO_DIR, man_name),
        "manifest_length": len(man_bytes),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": max(seq_vals),
        "min_sequence_number": min(seq_vals),
        "added_snapshot_id": snapshot_id,
        "added_files_count": n_added,
        "existing_files_count": len(entries) - n_added,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": total_rows - added_rows,
        "deleted_rows_count": 0,
        "partitions": None,
        "key_metadata": None,
    }
    mlist_path = os.path.join(avro_dir, f"snap-{v}.manifest-list.avro")
    _atomic_write(
        mlist_path,
        write_ocf(MANIFEST_LIST_SCHEMA, [mlist],
                  metadata={"format-version": "2"}),
    )
    return {
        "manifest_list": mlist_path,
        "manifest": man_path,
        "n_files": len(entries),
        "total_rows": total_rows,
    }


def _atomic_write(path: str, data: bytes) -> None:
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def read_manifest_list(path: str) -> list[dict]:
    with open(path, "rb") as fh:
        schema, _meta, records = read_ocf(fh.read())
    if schema.get("name") != "manifest_file":
        raise ValueError(f"not a manifest list: record {schema.get('name')!r}")
    return records


def read_manifest(path: str) -> list[dict]:
    with open(path, "rb") as fh:
        schema, _meta, records = read_ocf(fh.read())
    if schema.get("name") != "manifest_entry":
        raise ValueError(f"not a manifest: record {schema.get('name')!r}")
    return records


def live_files_from_avro(table_path: str, version: int) -> list[dict]:
    """Reconstruct the live data-file set for a snapshot FROM THE AVRO
    BYTES ALONE — the independent-reader side of the round-trip
    certificate. Returns [{file, record_count, lower_bounds,
    upper_bounds}] with bounds still in Iceberg binary form."""
    mlist_path = os.path.join(
        table_path, AVRO_DIR, f"snap-{version}.manifest-list.avro"
    )
    out: list[dict] = []
    for mf in read_manifest_list(mlist_path):
        if mf["content"] != 0:
            raise ValueError("unexpected delete manifest in data export")
        for entry in read_manifest(
            os.path.join(table_path, mf["manifest_path"])
        ):
            if entry["status"] == 2:  # deleted
                continue
            df = entry["data_file"]
            if df["file_format"] != "PARQUET":
                raise ValueError(f"unexpected format {df['file_format']!r}")
            out.append(
                {
                    "file": df["file_path"],
                    "record_count": df["record_count"],
                    "lower_bounds": df["lower_bounds"],
                    "upper_bounds": df["upper_bounds"],
                }
            )
    return out
