"""Minimal Apache Iceberg writer (companion to
``readers.read_iceberg_snapshot``), built on the PUBLIC Iceberg table spec
(iceberg.apache.org/spec/). Honestly scoped and fail-fast:

- format-version 2, parquet (and row-format avro) data files,
  unpartitioned or partitioned by spec transforms, with partition spec
  and additive schema evolution;
- APPEND (``write_iceberg_append``, branch appends included), merge-on-read
  DELETE via position and equality delete files, MERGE/upsert
  (``merge_iceberg_rows``) and UPDATE (``update_iceberg_rows``);
  maintenance: compaction and bin-packing (``rewrite_iceberg_table``),
  manifest consolidation, metadata-only partition drop, snapshot
  expiration, orphan-file removal, rollback, refs (tags/branches) and
  column rename/drop;
- the metadata version bump is a FILESYSTEM compare-and-swap
  (``_commit_metadata``: hard-link put-if-absent of
  ``v<N>.metadata.json``, the HadoopTableOperations recipe) — a lost
  race raises :class:`IcebergCommitConflict` instead of clobbering the
  winner. Every retry goes through the shared protocol in
  ``sources/commit.py``: appends retry on top of the winner (they
  commute), RECOMPUTABLE commits — compaction, manifest rewrite,
  expiration, ref/schema moves — re-run, and data-SEMANTIC writers
  (delete/update/merge) retry after FILE-OVERLAP VALIDATION
  (``_retry_head``): retry iff the winning commits are provably
  disjoint from this commit's basis (schema/spec unchanged, every
  referenced file still live, no new delete content over the rewritten
  files), else the conflict surfaces for the caller to re-decide
  against the new head. Object stores without atomic link/rename still
  need a real catalog (REST/Hive/Glue) — that remains the production
  path;
- refuses to write to tables it didn't create (unknown features could
  be silently dropped).

The COMMIT is driver-side KB-scale metadata (manifest Avros, one
manifest-list Avro, one metadata.json); the data write itself is a
normal distributed ``df.write.parquet``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from glob import glob

from pyspark.sql import DataFrame

from .avro_lite import write_avro_file
from .commit import (
    APPEND_ATTEMPTS,
    CommitConflict,
    commit_with_retry,
    recompute_on_conflict,
    remove_quietly,
)

_WRITER_TAG = "mysoftware-nocnetintel-spark-minimal"

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                    # per-file column bounds (zone maps), keyed by FIELD
                    # ID (stringified: Avro map keys are strings); VALUES
                    # are the Iceberg spec's binary single-value
                    # serialization (Appendix D: little-endian fixed-width
                    # numerics, UTF-8 strings, date = LE int32 days), so
                    # third-party readers can consume them. Remaining
                    # container deviation: canonical manifests store
                    # map<int, binary> as a key/value record array; ours
                    # is a string-keyed Avro map (documented, and the
                    # _WRITER_TAG gate already scopes interop).
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {"type": "map", "values": "bytes"},
                        ],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {"type": "map", "values": "bytes"},
                        ],
                        "default": None,
                    },
                ],
            },
        },
        # spec v2 "Sequence Number Inheritance": an entry with a null
        # sequence number inherits the manifest-list row's; an EXPLICIT
        # value pins the file's data sequence number independently of
        # which manifest carries it — what lets rewrite_iceberg_manifests
        # consolidate manifests of different ages without breaking the
        # strictly-lower equality-delete scoping rule. Kept LAST so the
        # positional data_file access in _partition_manifest_schema
        # stays valid; absent in manifests written before this field
        # existed (the avro reader yields no key, the writer encodes the
        # null default).
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
        },
    ],
}


# iceberg types whose file bounds we record (string/binary stats can be
# truncated by parquet writers, so using them for skipping would be unsafe;
# dates compare correctly in ISO string form)
_BOUNDABLE_TYPES = {"int", "long", "float", "double", "boolean", "date"}


def encode_bound_value(t: str, v) -> bytes:
    """Iceberg SINGLE-VALUE binary serialization (table spec Appendix D,
    "Binary single-value serialization") of a bound value of type ``t``:
    little-endian fixed-width numerics, 1-byte booleans, UTF-8 strings,
    date as little-endian int32 days from 1970-01-01."""
    import datetime
    import struct

    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t == "int":
        return struct.pack("<i", int(v))
    if t == "long":
        return struct.pack("<q", int(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "date":
        if isinstance(v, str):
            v = datetime.date.fromisoformat(v)
        return struct.pack("<i", (v - datetime.date(1970, 1, 1)).days)
    if t == "string":
        return str(v).encode("utf-8")
    raise NotImplementedError(f"bound serialization for type {t!r}")


def decode_bound_value(t: str, b):
    """Inverse of :func:`encode_bound_value`. Dates decode to ISO strings
    (the form the reader's partition values and scan_filter comparisons
    already use). Legacy pre-round-5 manifests stored bounds as typed
    Avro values — anything that is not ``bytes`` passes through."""
    import datetime
    import struct

    if not isinstance(b, (bytes, bytearray)):
        return b  # legacy typed-Avro bound
    if t == "boolean":
        return b[0] != 0
    if t == "int":
        return struct.unpack("<i", b)[0]
    if t == "long":
        return struct.unpack("<q", b)[0]
    if t == "float":
        return struct.unpack("<f", b)[0]
    if t == "double":
        return struct.unpack("<d", b)[0]
    if t == "date":
        days = struct.unpack("<i", b)[0]
        return (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=days)
        ).isoformat()
    if t == "string":
        return bytes(b).decode("utf-8")
    raise NotImplementedError(f"bound deserialization for type {t!r}")


def _file_bounds(
    pq_meta, schema: dict | None
) -> tuple[dict | None, dict | None]:
    """(lower_bounds, upper_bounds) maps — str(field id) → spec binary
    single-value bytes (:func:`encode_bound_value`) — aggregated across
    the file's row-group parquet statistics. A column missing statistics
    in ANY row group gets no bounds (skipping on a partial range would
    drop rows)."""
    if not schema:
        return None, None
    by_name = {
        f["name"]: (f["id"], f["type"])
        for f in schema["fields"]
        if isinstance(f["type"], str) and f["type"] in _BOUNDABLE_TYPES
    }
    if not by_name:
        return None, None
    lo: dict = {}
    hi: dict = {}
    dead: set[str] = set()
    for rg in range(pq_meta.num_row_groups):
        row_group = pq_meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name not in by_name or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            fid = str(by_name[name][0])
            mn, mx = st.min, st.max
            if hasattr(mn, "isoformat"):  # date → ISO string (ordered)
                mn, mx = mn.isoformat(), mx.isoformat()
            # parquet-mr / Spark include NaN in float/double min-max
            # stats; every comparison against a NaN bound is False, so a
            # NaN-poisoned bound would prune files that DO contain
            # matching rows. Treat it like missing statistics.
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                dead.add(name)
                continue
            lo[fid] = mn if fid not in lo else min(lo[fid], mn)
            hi[fid] = mx if fid not in hi else max(hi[fid], mx)
    for name in dead:
        fid = str(by_name[name][0])
        lo.pop(fid, None)
        hi.pop(fid, None)
    types_by_fid = {str(i): t for _n, (i, t) in by_name.items()}
    lo = {k: encode_bound_value(types_by_fid[k], v) for k, v in lo.items()}
    hi = {k: encode_bound_value(types_by_fid[k], v) for k, v in hi.items()}
    return (lo or None), (hi or None)


MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _spark_to_iceberg_type(dt) -> str | None:
    """Map a Spark primitive type to the Iceberg schema type name (spec
    'Primitive Types'); None for complex/unmapped types (the table is then
    written without a field-id schema and equality deletes fail fast)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    return {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.ShortType: "int",
        T.ByteType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.StringType: "string",
        T.DateType: "date",
        T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp",
        T.BinaryType: "binary",
    }.get(type(dt))


def _iceberg_schema(spark_schema) -> dict | None:
    """Field-id schema for metadata.json (ids 1..n in column order), or
    None when any column type has no mapping. LISTS of primitives map to
    the spec's nested list type (element-ids allocated AFTER every
    top-level id — ids are forever, so the allocation order must be
    deterministic); struct/map columns stay unmapped and the table is
    then written without a field-id schema (partitioning and equality
    deletes fail fast, as before). List columns are never boundable,
    avro-encodable, or equality-key-able — each of those sites guards on
    the type being a STRING primitive."""
    from pyspark.sql import types as T

    fields = []
    lists: list[tuple[int, str, bool]] = []
    for i, f in enumerate(spark_schema.fields):
        t = _spark_to_iceberg_type(f.dataType)
        if t is None and isinstance(f.dataType, T.ArrayType):
            et = _spark_to_iceberg_type(f.dataType.elementType)
            if et is None:
                return None
            lists.append((len(fields), et, f.dataType.containsNull))
            t = "__list_placeholder__"
        if t is None:
            return None
        fields.append(
            {"id": i + 1, "name": f.name, "required": not f.nullable, "type": t}
        )
    next_id = len(fields) + 1
    for idx, et, contains_null in lists:
        fields[idx]["type"] = {
            "type": "list",
            "element-id": next_id,
            "element": et,
            "element-required": not contains_null,
        }
        next_id += 1
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _type_equal(a, b) -> bool:
    """Schema-compat type comparison: primitives compare directly; LIST
    types compare by (element, element-required) and deliberately IGNORE
    element-id — ids are allocation artifacts of whichever frame computed
    the schema (the incoming frame numbers elements after ITS top-level
    count), not part of the logical type. Comparing them raw falsely
    rejects legal additive appends to list-bearing tables."""
    if isinstance(a, dict) and isinstance(b, dict):
        if a.get("type") != b.get("type"):
            return False
        return a.get("element") == b.get("element") and a.get(
            "element-required"
        ) == b.get("element-required")
    return a == b


def _max_field_id(fields: list[dict]) -> int:
    """Highest id in use across top-level fields AND nested list
    element-ids — new ids must clear both (spec: ids are forever)."""
    m = 0
    for f in fields:
        m = max(m, int(f["id"]))
        t = f["type"]
        if isinstance(t, dict) and "element-id" in t:
            m = max(m, int(t["element-id"]))
    return m


def _default_spec_id(meta: dict | None) -> int:
    """The table's current default partition spec id — stamped on every
    NEW manifest-list row so readers resolve each manifest's partition
    records against the spec they were written under (partition
    evolution: carried rows keep their original ids)."""
    if not meta or not meta.get("partition-specs"):
        return 0
    return int(meta.get("default-spec-id", 0))


class IcebergCommitConflict(CommitConflict):
    """Another writer committed the metadata version this commit was
    staged against. Every retry runs through
    :func:`~.commit.commit_with_retry`: appends retry on top of the
    winner (they commute), recomputable maintenance/ref commits re-run
    (``commit.recompute_on_conflict``), and the data-semantic verbs
    (delete/update/merge) retry AFTER file-overlap validation
    (``_retry_head``) — when validation shows the winning commit could
    have invalidated this one's scan basis, the conflict surfaces and
    the caller re-runs against the new table state."""


def _table_sig(meta: dict | None) -> str:
    """Layout signature a staged commit depends on: the schemas,
    partition specs and default spec id. A winner that changed it
    invalidates staged files (they embed field ids, bounds and partition
    records)."""
    return json.dumps(
        [
            (meta or {}).get("schemas"),
            (meta or {}).get("partition-specs"),
            (meta or {}).get("default-spec-id"),
        ],
        sort_keys=True,
    )


def _retry_head(
    path: str,
    base_meta: dict,
    touched: "set[str] | None" = None,
    forbid_new_deletes: bool = False,
) -> "tuple[dict, int] | None":
    """FILE-OVERLAP VALIDATION for retrying a data-semantic commit that
    lost its metadata CAS (round-6 verdict task 5): reload the head and
    decide whether the staged artifacts are still valid against it.
    Returns ``(meta, ver)`` of the new head when the retry is safe, or
    ``None`` when the conflict must surface to the caller.

    The retry is safe iff the interleaving commits are provably disjoint
    from this commit's basis:

    - the table SCHEMA and PARTITION SPEC are unchanged (staged files
      embed field ids, bounds, and partition records);
    - every file in ``touched`` — the data files this commit's position
      deletes reference / its rewrite replaces — is still LIVE at the
      head (a compaction or another rewrite that touched them would
      invalidate the (file, pos) coordinates);
    - with ``forbid_new_deletes`` (the UPDATE case, which re-writes row
      images, AND position-delete retries): no interleaving commit added
      an EQUALITY delete (its key scope is unknowable at file
      granularity) or a POSITION delete referencing a ``touched`` file.
      For UPDATE the interleaved delete would be silently resurrected by
      our rewritten images; for a position-delete retry the interleaved
      commit may be an UPDATE whose rewritten images carry rows our
      (file,pos) coordinates can no longer reach (round-7 advisor);
    - the base snapshot still resolves (not expired mid-race).

    Declarative commits (equality deletes, zero-read upsert merges) pass
    ``touched=None``: re-applying them on the new head at a fresh
    sequence number is exactly the serial order "winner first, then us".
    """
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        return None
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        # VALIDATED-RETRY SCOPE (round 8, matching the Delta twin): a
        # winning commit from a FOREIGN engine can't be validated
        # file-by-file here (its manifest conventions / delete
        # granularity are its own) — always surface the conflict.
        return None
    if _table_sig(meta) != _table_sig(base_meta):
        return None
    if touched or forbid_new_deletes:
        from .readers import _iceberg_snapshot_files

        base_snap = base_meta.get("current-snapshot-id")
        try:
            head_data, head_pos, head_eq, _ = _iceberg_snapshot_files(path)
            _b_data, base_pos, base_eq, _ = _iceberg_snapshot_files(
                path, snapshot_id=base_snap
            )
        except (ValueError, FileNotFoundError):
            return None
        if touched:
            head_live = {e.path for e in head_data}
            if not set(touched) <= head_live:
                return None
        if forbid_new_deletes:
            if {p for p, _s, _c in head_eq} - {p for p, _s, _c in base_eq}:
                return None
            new_pos = set(head_pos) - set(base_pos)
            if new_pos and touched:
                import pyarrow.parquet as pq

                for pf in new_pos:
                    refs = set(
                        pq.read_table(pf, columns=["file_path"])
                        .column("file_path")
                        .to_pylist()
                    )
                    if refs & set(touched):
                        return None
            elif new_pos:
                return None
    return meta, ver


def _commit_metadata(meta_dir: str, prev_ver: int, new_meta: dict) -> None:
    """ATOMIC compare-and-swap commit of ``v{prev_ver+1}.metadata.json``
    (the Iceberg HadoopTableOperations recipe): serialize to a temp file,
    then ``os.link`` it into place — hard-linking is put-if-absent on a
    POSIX filesystem, so if ANY other writer committed the same version
    first the link fails with EEXIST and this commit raises
    :class:`IcebergCommitConflict` instead of silently clobbering the
    other writer's snapshot. A best-effort ``version-hint.text`` (the
    Hadoop-catalog convention) is refreshed after the swap so external
    tooling can find the current version without globbing.

    Round 8: the swap goes through the pluggable :mod:`.catalog` seam —
    the default :class:`~.catalog.FilesystemCommitter` is this
    filesystem CAS; a REST/Hive/Glue catalog (whose commit endpoint
    does the swap transactionally — the production path for object
    stores without atomic rename) plugs in via
    ``catalog.set_committer`` with no change above this function."""
    from .catalog import CatalogCommitConflict, get_committer

    committer = get_committer()
    final = os.path.join(meta_dir, f"v{prev_ver + 1}.metadata.json")
    try:
        committer.put_if_absent(final, json.dumps(new_meta).encode())
    except CatalogCommitConflict as e:
        raise IcebergCommitConflict(
            f"metadata version v{prev_ver + 1} was committed by another "
            f"writer while this commit was staged ({e})"
        ) from None
    committer.publish_hint(
        os.path.join(meta_dir, "version-hint.text"), str(prev_ver + 1)
    )


def _load_meta(
    meta_dir: str, allow_v3: bool = False
) -> tuple[dict | None, int]:
    versions = sorted(
        glob(os.path.join(meta_dir, "v*.metadata.json")),
        key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
    )
    if not versions:
        return None, 0
    with open(versions[-1]) as fh:
        meta = json.load(fh)
    if meta.get("format-version", 1) > 2 and not allow_v3:
        # round 11: READS of v3 tables work — read_iceberg_snapshot
        # handles deletion vectors natively (other v3 features gated
        # per-feature there), and the read-only inspectors (snapshot
        # listing/diff, refs, partition specs, row counts, the
        # streaming tailer) pass allow_v3=True. Every OTHER verb that
        # loads metadata here is a v2-semantics writer/maintainer —
        # committing v2-shaped snapshots into a v3 table would drop v3
        # invariants (DV replace-on-write, row lineage) — so fail
        # closed by default.
        raise NotImplementedError(
            f"Iceberg format-version {meta['format-version']} table: "
            "this engine's write/maintenance verbs are format-version 2 "
            "only (reads are fine — use read_iceberg_snapshot); use the "
            "iceberg-spark-runtime connector to modify v3 tables"
        )
    v = int(os.path.basename(versions[-1])[1:].split(".")[0])
    return meta, v


# identity partitioning: avro encoding for partition-record values by
# iceberg type; partition columns outside this map are refused
_PARTITION_AVRO_TYPES = {
    "int": "long",
    "long": "long",
    "string": "string",
    "boolean": "boolean",
    "double": "double",
    "float": "double",
    "date": "string",
}


def _partition_manifest_schema(part_fields: list[tuple[str, str]]) -> dict:
    """MANIFEST_ENTRY_SCHEMA extended with a partition record matching the
    table's identity partition spec (Avro schemas are per-file, so
    unpartitioned tables keep the base schema untouched)."""
    import copy

    schema = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    schema["fields"][2]["type"]["fields"].append(
        {
            "name": "partition",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "rp",
                    "fields": [
                        {"name": n, "type": ["null", _PARTITION_AVRO_TYPES[t]]}
                        for n, t in part_fields
                    ],
                },
            ],
            "default": None,
        }
    )
    return schema


def _hive_decode_partition_value(t: str, raw: str):
    """Decode a Hive directory-name partition value back to the spec's
    typed form (shared by every partitioned stage-write site)."""
    from urllib.parse import unquote

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    raw = unquote(raw)
    if t in ("int", "long"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return raw == "true"
    return raw  # string / date (ISO form)


def _stage_partitioned_parquet(
    df: DataFrame, path: str, data_dir: str, pfs, pack: bool = False
) -> list[tuple[str, dict]]:
    """Fan-out-write ``df`` per partition tuple (Spark partitionBy over
    DUPLICATE ``__part_<name>`` transform columns, so the original
    columns stay in the data files as Iceberg requires), move the staged
    files into ``data_dir`` under fresh names, and return
    ``(dest, partition_values)`` pairs with the values decoded from the
    Hive directory names to the spec's types. ``pack`` collapses each
    partition tuple to one task → one output file first (the bin-packing
    write shape). Shared by append, merge, and rewrite."""
    from pyspark.sql import functions as F

    from .iceberg_transforms import transform_column

    stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
    try:
        staged = df
        for pf in pfs:
            staged = staged.withColumn(
                f"__part_{pf.name}", transform_column(pf)
            )
        if pack:
            staged = staged.repartition(
                *[F.col(f"__part_{pf.name}") for pf in pfs]
            )
        staged.write.partitionBy(
            *[f"__part_{pf.name}" for pf in pfs]
        ).parquet(stage)
        types = {pf.name: pf.value_type for pf in pfs}
        out: list[tuple[str, dict]] = []
        for f in sorted(
            glob(os.path.join(stage, "**", "*.parquet"), recursive=True)
        ):
            pvals: dict = {}
            for piece in os.path.relpath(
                os.path.dirname(f), stage
            ).split(os.sep):
                k, _, v = piece.partition("=")
                name = k[len("__part_"):]
                pvals[name] = _hive_decode_partition_value(types[name], v)
            dest = os.path.join(data_dir, f"{uuid.uuid4().hex[:16]}.parquet")
            shutil.move(f, dest)
            out.append((dest, pvals))
        return out
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# spark/iceberg primitive -> avro type for row-oriented data files
_AVRO_DATA_TYPES = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}


def _write_avro_data_files(
    df: DataFrame, stage: str, pfs=()
) -> "dict[str, tuple[int, dict | None]]":
    """Distributed row-format write for avro fast-appends: each non-empty
    executor partition encodes its rows into avro object-container
    files under ``stage`` via :mod:`.avro_lite` (pure-Python, importable on
    workers — Spark ships no avro writer without the external spark-avro
    jar). Returns {staged path: (record count, partition values|None)} —
    one bounded row per file comes back to the driver, never data. The
    per-partition record list is held in worker memory while encoding;
    fast-appends are small hot batches by design (the compactor owns the
    big rewrites).

    ``pfs`` (PartField list) makes the write PARTITIONED: transform
    columns are computed, rows repartition on them (co-locating each
    tuple), and every worker encodes one avro file PER partition tuple it
    holds, reporting the tuple's typed values for the manifest's
    partition record — so partition pruning works identically to the
    parquet path while the data files stay row-oriented (the fast-append
    shape a streaming CDC writer wants on a partitioned table)."""
    import os as _os

    sch = _iceberg_schema(df.schema)
    if sch is None or any(
        not isinstance(f["type"], str) or f["type"] not in _AVRO_DATA_TYPES
        for f in sch["fields"]
    ):
        bad = [
            (f.name, str(f.dataType)) for f in df.schema.fields
        ]
        raise NotImplementedError(
            "avro appends support primitive int/long/float/double/string/"
            f"boolean columns only: {bad}"
        )
    names = [f["name"] for f in sch["fields"]]
    # pandas promotes nullable int columns to float — convert each value
    # back by its DECLARED type so the avro branch encoding stays exact
    _PY = {"int": int, "long": int, "float": float, "double": float,
           "boolean": bool, "string": str}
    convs = [(f["name"], _PY[f["type"]]) for f in sch["fields"]]
    avro_schema = {
        "type": "record",
        "name": "iceberg_row",
        "fields": [
            {
                "name": f["name"],
                "type": ["null", _AVRO_DATA_TYPES[f["type"]]],
                "default": None,
            }
            for f in sch["fields"]
        ],
    }
    _os.makedirs(stage, exist_ok=True)
    part_names = [f"__part_{pf.name}" for pf in pfs]
    if pfs:
        from pyspark.sql import functions as F

        from .iceberg_transforms import transform_column

        for pf in pfs:
            df = df.withColumn(f"__part_{pf.name}", transform_column(pf))
        df = df.repartition(*[F.col(n) for n in part_names])
    pf_meta = [(pf.name, f"__part_{pf.name}") for pf in pfs]

    def _write_part(batches):
        import json as _json
        import uuid as _uuid

        import pandas as pd

        from mysoftware_nocnetintel_spark.sources.avro_lite import (
            write_avro_file,
        )

        def _encode(frame, pvals_json):
            recs = []
            for rowd in frame[names].to_dict("records"):
                recs.append(
                    {
                        n: None if pd.isna(rowd[n]) else py(rowd[n])
                        for n, py in convs
                    }
                )
            if not recs:
                return None
            p = _os.path.join(
                stage, f"part-{_uuid.uuid4().hex[:16]}.avro"
            )
            write_avro_file(p, avro_schema, recs)
            return pd.DataFrame(
                {"path": [p], "n": [len(recs)], "pjson": [pvals_json]}
            )

        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        full = pd.concat(frames, ignore_index=True)
        if not pf_meta:
            out = _encode(full, None)
            if out is not None:
                yield out
            return
        # one avro file per partition TUPLE held by this worker (a hash
        # repartition may co-locate several tuples on one partition —
        # multiple small files per tuple commit is spec-legal, and the
        # bin-packing compactor owns consolidation)
        keys = [k for _n, k in pf_meta]
        for _kv, grp in full.groupby(keys, dropna=False, sort=True):
            vals = {}
            for name, key in pf_meta:
                v = grp[key].iloc[0]
                if pd.isna(v):
                    vals[name] = None
                elif hasattr(v, "item"):
                    vals[name] = v.item()
                elif hasattr(v, "isoformat"):
                    vals[name] = v.isoformat()
                else:
                    vals[name] = v
            out = _encode(grp, _json.dumps(vals, sort_keys=True))
            if out is not None:
                yield out

    rows = df.mapInPandas(
        _write_part, "path string, n long, pjson string"
    ).collect()
    # decode the partition record to the spec's types (the parquet twin's
    # _hive_decode_partition_value convention: ints int, floats float,
    # booleans bool, string/date string ISO)
    vt = {pf.name: pf.value_type for pf in pfs}

    def _typed(pvals: dict | None) -> dict | None:
        if pvals is None:
            return None
        out = {}
        for k, v in pvals.items():
            t = vt.get(k, "string")
            if v is None:
                out[k] = None
            elif t in ("int", "long"):
                out[k] = int(v)
            elif t in ("double", "float"):
                out[k] = float(v)
            elif t == "boolean":
                out[k] = bool(v)
            else:
                out[k] = str(v)
        return out

    import json as _json

    return {
        r["path"]: (
            int(r["n"]),
            _typed(_json.loads(r["pjson"])) if r["pjson"] else None,
        )
        for r in rows
    }


def _txn_already_committed(
    meta: dict | None, txn: "tuple[str, int] | None"
) -> bool:
    """True iff a snapshot summary already records ``txn``'s app at this
    version or higher — the Iceberg-native idempotence marker (the spec's
    string-keyed snapshot ``summary``; the connector stores its WAP/app
    ids the same way). Checked BEFORE any distributed write, so a
    redelivered batch costs one driver-side metadata scan and zero
    executor work. Caveat vs Delta's ``txn`` action (which checkpoints
    carry forever): summaries die with their snapshots, so retention must
    exceed the redelivery window — pin the consumer's offset snapshot
    (``IcebergTailer(pin_ref=...)``) or keep enough history."""
    if txn is None or meta is None:
        return False
    app, ver = txn
    for s in meta.get("snapshots", []):
        summ = s.get("summary") or {}
        if summ.get("txn-app") == app and int(
            summ.get("txn-version", -1)
        ) >= int(ver):
            return True
    return False


def write_iceberg_append(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    file_format: str = "parquet",
    sort_by: tuple[str, ...] = (),
    zorder: bool = False,
    branch: str | None = None,
    txn: "tuple[str, int] | None" = None,
) -> int:
    """Append ``df`` to the Iceberg table at ``path`` (creating it on first
    write). Returns the new snapshot id. See module docstring for scope.

    ``partition_by`` (create-time only) declares the partition spec: each
    entry is an identity column name, ``"bucket(N, col)"`` (spec-exact
    murmur3 hash bucketing — the high-cardinality-key strategy; see
    :mod:`.iceberg_transforms`) or ``"truncate(W, col)"`` (floor-to-width
    ints / prefix-of-width strings, keeps range pruning). The append
    fan-out-writes one file set per distinct partition tuple in a single
    distributed pass (Spark partitionBy over DUPLICATE computed columns,
    so the original columns stay in the data files as Iceberg requires),
    and the manifest entries carry the typed partition record, so the
    reader can prune files by partition — and, via ``scan_filter`` on a
    transform SOURCE column, by bucket/truncated range — BEFORE planning
    any scan. Date partition values are recorded in ISO string form
    (identity only).

    ``file_format="avro"`` writes ROW-ORIENTED data files — the
    fast-append shape the Iceberg spec supports for small frequent
    commits, where buffering a columnar parquet footer per micro-batch is
    the overhead (a streaming CDC writer's natural format). Each executor
    partition encodes its rows through :mod:`.avro_lite` (one avro file
    per non-empty partition, distributed; the driver only moves staged
    files and writes KB-scale metadata). Avro entries carry no column
    bounds (no row-group statistics to harvest) so zone maps never prune
    them, and :func:`rewrite_iceberg_table` ALWAYS bin-packs them into
    parquet — write-fast then compact-to-columnar is the intended
    lifecycle. PARTITIONED avro appends (round 6) co-locate each
    partition tuple and write one avro file per tuple per worker, with
    the typed partition record in the manifest — partition pruning works
    exactly like the parquet path. Scope: primitive
    int/long/float/double/string/boolean columns; everything else fails
    fast.

    ``sort_by`` CLUSTERS the write: rows range-partition on the given
    columns and sort within each output file, so per-file zone-map
    bounds become near-disjoint and ``scan_filter`` skips most files
    instead of none — after partitioning, data clustering is the
    single biggest scan-cost lever at 100 TB (the degenerate unsorted
    append gives every file the full value range and zone maps prune
    nothing). One extra shuffle at write time (range exchange), zero
    read-side cost; composes with ``partition_by`` (clusters within
    each partition's file set) but not with avro (no bounds to
    tighten — refused).

    ``txn=(app_id, version)`` makes the append IDEMPOTENT, the
    Delta-``txn``-action twin expressed Iceberg-natively: the snapshot
    summary records the marker atomically with the commit, a later
    append whose (app, version) the history already holds skips with
    zero executor work, and :func:`_txn_already_committed` documents
    the retention caveat (summaries die with expired snapshots)."""
    import pyarrow.parquet as pq

    if file_format not in ("parquet", "avro"):
        raise ValueError(f"file_format must be parquet or avro: {file_format!r}")

    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(meta_dir, exist_ok=True)
    os.makedirs(data_dir, exist_ok=True)

    meta, ver = _load_meta(meta_dir)
    if meta is not None and meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to append to an Iceberg table created by another "
            "writer (unknown features could be dropped): use the "
            "iceberg-spark-runtime connector"
        )
    if txn is not None and branch is not None:
        raise ValueError("txn idempotence is main-line only (no branch)")
    if _txn_already_committed(meta, txn):
        # redelivered batch: the summary marker proves this (app, version)
        # already landed — skip with zero executor work
        return meta["current-snapshot-id"]
    if branch is not None:
        if meta is None:
            raise ValueError(
                "branch appends need an existing table (create it with a "
                "main-line append first)"
            )
        if branch == "main":
            raise ValueError("'main' is the table head — append without branch")
        ex = (meta.get("refs") or {}).get(branch)
        if ex is not None and ex.get("type") != "branch":
            raise ValueError(
                f"ref {branch!r} is a tag, not a branch: tags are "
                "immutable pins"
            )
    if meta is not None and partition_by:
        raise ValueError(
            "partition_by is declared at table CREATE time; later appends "
            "inherit the table's partition spec"
        )
    from .iceberg_transforms import (
        PartField,
        parse_partition_by,
        resolve_part_field,
        spec_field_to_part_field,
    )

    pfs: list[PartField] = []
    if meta is not None:
        spec_fields = (meta.get("partition-specs") or [{}])[
            meta.get("default-spec-id", 0)
        ].get("fields", [])
        if spec_fields:
            schema_fields = (meta.get("schemas") or [{}])[0].get(
                "fields", []
            )
            pfs = [
                spec_field_to_part_field(f, schema_fields)
                for f in spec_fields
            ]
    elif partition_by:
        sch = _iceberg_schema(df.schema)
        if sch is None:
            raise NotImplementedError(
                "partitioned tables need a field-id schema (primitive "
                "columns only)"
            )
        by_name = {f["name"]: f["type"] for f in sch["fields"]}
        for item in partition_by:
            kind, c, param = parse_partition_by(item)
            if c not in by_name:
                raise ValueError(f"partition column {c!r} not in schema")
            if not isinstance(by_name[c], str):
                raise NotImplementedError(
                    f"partitioning on complex-typed column {c!r} "
                    f"({by_name[c]!r}) is unsupported"
                )
            pf = resolve_part_field(kind, c, param, by_name[c])
            if pf.value_type not in _PARTITION_AVRO_TYPES:
                raise NotImplementedError(
                    f"{kind} partitioning on type {by_name[c]!r} unsupported"
                )
            pfs.append(pf)
    # (field-name, partition-VALUE type) drives the manifest partition
    # record + Hive dir decode; the transform itself lives in the spec
    part_fields: list[tuple[str, str]] = [
        (pf.name, pf.value_type) for pf in pfs
    ]

    # schema compatibility is checked BEFORE the distributed write: a
    # mismatched append must fail while the table is still untouched —
    # failing after the data files moved into data/ would strand orphan
    # parquet + manifest files forever (expire_iceberg_snapshots only
    # removes files referenced by expired snapshots) and waste a full
    # distributed write. Compare (name, type) PAIRS, not just names: an
    # append with matching names but different types would commit
    # mixed-type parquet and corrupt every later scan.
    #
    # ADDITIVE SCHEMA EVOLUTION: an append carrying every table column
    # (same types) PLUS new primitive columns evolves the table — new
    # fields get fresh ids above the current maximum (ids are forever,
    # spec "Schema Evolution"), arrive as optional, and files written
    # before the evolution simply lack the id: the reader's explicit
    # expected schema null-fills them (parquet scan) / name-misses them
    # (avro scan). Dropping or retyping a column still fails fast.
    evolved_schema: dict | None = None
    if meta is not None and (meta.get("schemas") or []):
        incoming = _iceberg_schema(df.schema)
        table_fields = (meta.get("schemas") or [])[0]["fields"]
        tb = {f["name"]: f["type"] for f in table_fields}
        inc = (
            {f["name"]: f["type"] for f in incoming["fields"]}
            if incoming
            else {}
        )
        if not incoming or any(
            n not in inc or not _type_equal(inc[n], t) for n, t in tb.items()
        ):
            raise ValueError(
                f"append schema {sorted((inc or {}).keys()) or None} does "
                f"not cover the table schema {sorted(tb.keys())} (drops or "
                "type changes are refused; only additive evolution is "
                "supported)"
            )
        extra = [f for f in incoming["fields"] if f["name"] not in tb]
        if extra:
            # a NEW column may not reuse a name some files were written
            # under (name mapping): without file-level field ids the old
            # files would surface the old field's values under the new
            # column
            taken = {
                n
                for m in _load_name_mapping(meta)
                for n in m.get("names", [])
            }
            clashes = [f["name"] for f in extra if f["name"] in taken]
            if clashes:
                raise ValueError(
                    f"new column(s) {clashes} reuse historical names of "
                    "renamed columns (schema.name-mapping.default): pick "
                    "different names"
                )
            # allocate past top-level ids AND nested element-ids; a new
            # LIST column's element-id is re-numbered here too (the
            # incoming frame numbered it relative to ITSELF)
            next_id = _max_field_id(table_fields) + 1
            new_fields = []
            for f in extra:
                t = f["type"]
                fid = next_id
                next_id += 1
                if isinstance(t, dict) and "element-id" in t:
                    t = {**t, "element-id": next_id}
                    next_id += 1
                new_fields.append(
                    {
                        "id": fid,
                        "name": f["name"],
                        "required": False,
                        "type": t,
                    }
                )
            evolved_schema = {
                "type": "struct",
                "schema-id": (meta.get("schemas") or [])[0].get(
                    "schema-id", 0
                ),
                "fields": table_fields
                + [
                    f
                    for f in new_fields
                ],
            }
        # normalize COLUMN ORDER to the (evolved) table schema: the
        # compatibility check is order-insensitive, but a reordered
        # append would (a) write parquet whose sampled-first schema flips
        # the scan's column order and (b) — before this fix — record
        # zone-map bounds under the REORDERED field ids with the wrong
        # binary types (measured: a double column's bits decoded as long,
        # so scan_filter pruned files that contained matching rows)
        df = df.select(
            *[f["name"] for f in table_fields],
            *[f["name"] for f in extra],
        )

    if sort_by:
        if file_format == "avro":
            raise NotImplementedError(
                "sort_by clusters parquet zone maps; avro files carry "
                "no bounds to tighten"
            )
        bad = [c for c in sort_by if c not in df.columns]
        if bad:
            raise ValueError(f"sort_by columns {bad} not in the schema")
        # range exchange on the cluster key, then an in-partition sort:
        # each output file covers a narrow key slice, so its bounds are
        # near-disjoint from its siblings'. The partition count is passed
        # EXPLICITLY (from the session's shuffle-partition conf) so AQE
        # cannot coalesce the clustered write back into one wide file.
        # With ``zorder`` the key is the Morton interleave of the
        # sort_by columns instead of their lexicographic order, so zone
        # maps prune on EVERY participating column (sources/zorder.py).
        from pyspark.sql import functions as F

        num = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8")
        )
        if zorder:
            from .zorder import zvalue_column

            zc = zvalue_column(df, tuple(sort_by))
            df = df.repartitionByRange(num, zc).sortWithinPartitions(zc)
        else:
            df = df.repartitionByRange(
                num, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
    # distributed data write: ONE write for both shapes. Partitioned
    # tables partitionBy DUPLICATE columns (``__part_<c>``) so Spark's
    # fan-out writer does the per-tuple file split in one distributed
    # pass (no per-partition driver loop, no double-execution of a
    # non-deterministic source plan) while the ORIGINAL columns stay in
    # the data files as Iceberg requires. Partition values come back from
    # the Hive dir names, decoded to the spec's type.
    new_files: list[tuple[str, dict | None, str, int | None]] = []
    stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
    try:
        if file_format == "avro":
            counts = _write_avro_data_files(
                df, stage, pfs if part_fields else ()
            )
            for f in sorted(counts):
                dest = os.path.join(data_dir, f"{uuid.uuid4().hex[:16]}.avro")
                n, pvals = counts[f]
                shutil.move(f, dest)
                new_files.append((dest, pvals, "AVRO", n))
        elif part_fields:
            for dest, pvals in _stage_partitioned_parquet(
                df, path, data_dir, pfs
            ):
                new_files.append((dest, pvals, "PARQUET", None))
        else:
            df.write.parquet(stage)
            for f in sorted(glob(os.path.join(stage, "*.parquet"))):
                dest = os.path.join(
                    data_dir, f"{uuid.uuid4().hex[:16]}.parquet"
                )
                shutil.move(f, dest)
                new_files.append((dest, None, "PARQUET", None))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    if not new_files:
        raise ValueError("append produced no data files")

    orig_sig = _table_sig(meta)

    def rebase(conflict):
        # CAS lost: reload and re-stage the METADATA on top of the winner
        # — appends commute, so the staged data files (and their
        # footer-derived stats) stay valid as long as the schema and
        # partition spec did not change underneath us.
        nonlocal meta, ver
        meta, ver = _load_meta(meta_dir)
        if meta is not None and meta.get("properties", {}).get(
            "writer"
        ) != _WRITER_TAG:
            raise NotImplementedError(
                "refusing to append to an Iceberg table created by "
                "another writer: use the iceberg-spark-runtime "
                "connector"
            )
        if _table_sig(meta) != orig_sig:
            raise IcebergCommitConflict(
                "concurrent commit changed the table schema or "
                "partition spec while this append was staged: re-run "
                "the append"
            )
        if _txn_already_committed(meta, txn):
            # the CAS winner carried this very txn: the staged duplicate
            # is dropped and the committed snapshot reported
            return meta["current-snapshot-id"]

    def attempt(written):
        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)  # unique, monotone per table
        seq = (meta.get("last-sequence-number", 0) if meta else 0) + 1

        # bounds are keyed by the TABLE's field ids — never derive them
        # from the incoming DataFrame's column order on an existing table
        if evolved_schema is not None:
            bounds_schema = evolved_schema
        elif meta is not None:
            bounds_schema = (meta.get("schemas") or [None])[0]
        else:
            bounds_schema = _iceberg_schema(df.schema)
        entries = []
        for f, pvals, fmt, nrows in new_files:
            if fmt == "PARQUET":
                pmeta = pq.read_metadata(f)  # driver-side footer, KB-scale
                lo, hi = _file_bounds(pmeta, bounds_schema)
                nrows = pmeta.num_rows
            else:
                lo = hi = None  # row-format files carry no column stats
            entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 0,
                        "file_path": f,
                        "file_format": fmt,
                        "record_count": nrows,
                        "file_size_in_bytes": os.path.getsize(f),
                        "partition": pvals,
                        "lower_bounds": lo,
                        "upper_bounds": hi,
                    },
                }
            )
        manifest = os.path.join(meta_dir, f"m-{snap_id}.avro")
        entry_schema = (
            _partition_manifest_schema(part_fields)
            if part_fields
            else MANIFEST_ENTRY_SCHEMA
        )
        write_avro_file(manifest, entry_schema, entries)
        written.append(manifest)

        # append semantics: manifest-list = all prior manifests + this one.
        # The BASE is the branch head for branch appends (write-audit-
        # publish staging), else the table head.
        prior = []
        base_id = None
        if meta is not None:
            base_id = meta["current-snapshot-id"]
            if branch is not None:
                ex = (meta.get("refs") or {}).get(branch)
                if ex is not None:
                    base_id = ex["snapshot-id"]
            cur = next(
                s
                for s in meta["snapshots"]
                if s["snapshot-id"] == base_id
            )
            from .avro_lite import read_avro_file

            _, prior = read_avro_file(cur["manifest-list"])
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [
                dict(m, sequence_number=m.get("sequence_number", 0))
                for m in prior
            ]
            + [
                {
                    "manifest_path": manifest,
                    "manifest_length": os.path.getsize(manifest),
                    "partition_spec_id": _default_spec_id(meta),
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            ],
        )
        written.append(mlist)

        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": "append"},
        }
        if txn is not None:
            # idempotence marker, atomic with the snapshot itself
            snapshot["summary"]["txn-app"] = txn[0]
            snapshot["summary"]["txn-version"] = str(int(txn[1]))
        if base_id is not None:
            # spec field; the ancestry walk behind fast-forward publish
            snapshot["parent-snapshot-id"] = base_id
        if meta is None:
            schema = _iceberg_schema(df.schema)
            schemas = [schema] if schema else []
        elif evolved_schema is not None:
            # additive evolution: this commit's metadata carries the
            # widened schema (new ids assigned above the prior maximum)
            schemas = [evolved_schema]
        else:
            # schema compatibility was validated BEFORE the data write
            schemas = meta.get("schemas") or []
        new_meta = {
            "format-version": 2,
            "table-uuid": (meta or {}).get("table-uuid", str(uuid.uuid4())),
            "location": path,
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            # carry table properties forward (the name mapping lives
            # there); the writer tag is always (re)asserted
            "properties": {
                **((meta or {}).get("properties") or {}),
                "writer": _WRITER_TAG,
            },
            "snapshots": ((meta or {}).get("snapshots", [])) + [snapshot],
            "current-snapshot-id": snap_id,
        }
        # named refs pin snapshots across appends — carry them verbatim
        # (every other commit site rebuilds via dict(meta, ...) and keeps
        # them implicitly)
        if meta is not None and meta.get("refs"):
            new_meta["refs"] = dict(meta["refs"])
        if branch is not None:
            # branch append: the TABLE HEAD does not move — only the
            # branch ref advances (readers of main never see staged data
            # until publish_iceberg_branch fast-forwards)
            new_meta["current-snapshot-id"] = meta["current-snapshot-id"]
            refs = dict(new_meta.get("refs") or {})
            refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
            new_meta["refs"] = refs
        if meta is not None:
            if meta.get("partition-specs"):
                new_meta["partition-specs"] = meta["partition-specs"]
                new_meta["default-spec-id"] = meta.get("default-spec-id", 0)
                if "last-partition-id" in meta:
                    new_meta["last-partition-id"] = meta["last-partition-id"]
        elif part_fields:
            name_to_id = {
                f["name"]: f["id"]
                for f in _iceberg_schema(df.schema)["fields"]
            }
            new_meta["partition-specs"] = [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": pf.name,
                            "transform": pf.transform,
                            "source-id": name_to_id[pf.source_col],
                            "field-id": 1000 + i,
                        }
                        for i, pf in enumerate(pfs)
                    ],
                }
            ]
            new_meta["default-spec-id"] = 0
        if schemas:
            new_meta["schemas"] = schemas
            new_meta["current-schema-id"] = schemas[0]["schema-id"]
            new_meta["last-column-id"] = max(
                f["id"] for f in schemas[0]["fields"]
            )
        _commit_metadata(meta_dir, ver, new_meta)
        return snap_id

    return commit_with_retry(
        attempt,
        attempts=APPEND_ATTEMPTS,
        rebase=rebase,
        staged=[f for f, _pv, _fmt, _n in new_files],
    )


# Delete commits collect (file_path, pos) rows to the driver before writing
# the position-delete parquet; deletes touching more rows than this belong
# to the connector (a real engine writes delete files distributed).
_MAX_DELETE_ROWS = 1_000_000


def write_iceberg_position_deletes(
    spark, path: str, condition, on_conflict: str = "surface"
) -> int:
    """Merge-on-read DELETE: commit a v2 POSITION delete file marking every
    currently-live row matching ``condition`` (a Column predicate over the
    table's columns). Returns the new snapshot id.

    ``on_conflict="rescan"`` (round 8, default ``"surface"``): when a
    lost CAS fails validated retry (the winner rewrote/masked the
    touched files, so the staged (file,pos) coordinates are stale),
    re-run the whole delete against the winner's head instead of
    raising — the fresh scan re-derives coordinates, i.e.
    snapshot-isolation serial re-execution through
    :func:`~.commit.commit_with_retry`).

    The matching rows' (file_path, pos) coordinates come from the hidden
    ``_metadata`` columns of a distributed scan (existing position deletes
    are applied first, so re-deleting already-dead rows is a no-op); the
    delete file itself is KB-scale driver-written parquet, sorted by
    (file_path, pos) as the spec recommends. Same single-writer /
    fail-fast scope as :func:`write_iceberg_append`.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .readers import _iceberg_live_scan

    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        return commit_with_retry(
            lambda _written: write_iceberg_position_deletes(
                spark, path, condition
            )
        )
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to modify an Iceberg table created by another writer: "
            "use the iceberg-spark-runtime connector"
        )
    # the shared live scan keeps the (file, pos) coordinates resolvable and
    # applies every existing position AND equality delete first, so deleting
    # already-dead rows is a no-op
    data = _iceberg_live_scan(spark, path, keep_coords=True)
    hits = (
        data.filter(condition)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
        .limit(_MAX_DELETE_ROWS + 1)
        .collect()
    )
    if len(hits) > _MAX_DELETE_ROWS:
        raise NotImplementedError(
            f"delete touches more than {_MAX_DELETE_ROWS} rows: use the "
            "iceberg-spark-runtime connector (distributed delete writes)"
        )
    rows = sorted((r.file_path, r.pos) for r in hits)

    del_file = os.path.join(
        os.path.join(path, "data"), f"delete-{uuid.uuid4().hex[:16]}.parquet"
    )
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in rows], pa.string()),
                "pos": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        del_file,
    )

    return _commit_delete_file(
        meta,
        ver,
        meta_dir,
        del_file,
        n_rows=len(rows),
        file_content=1,
        path=path,
        touched={r[0] for r in rows},
    )


def _commit_delete_file(
    meta: dict,
    ver: int,
    meta_dir: str,
    del_file: str,
    n_rows: int,
    file_content: int,
    equality_ids: list[int] | None = None,
    path: str | None = None,
    touched: "set[str] | None" = None,
) -> int:
    """Shared delete-commit tail of the position- and equality-delete
    writers: one manifest Avro, one manifest-list Avro, one metadata.json
    bump — all driver-side KB-scale. ``file_content`` is the spec's
    data_file content code (1=position deletes, 2=equality deletes).

    A lost CAS auto-retries after ``_retry_head`` validation (round 7):
    position deletes retry iff every referenced data file (``touched``)
    is still live at the head AND the head gained no delete content over
    those files (``forbid_new_deletes`` — a concurrent UPDATE keeps the
    files live while rewriting row images our coordinates can't reach;
    round-7 advisor); equality deletes are declarative (``touched=None``)
    and re-apply at the new head's sequence — the serial order "winner
    first, then this delete". A failed validation surfaces the
    conflict; whenever the commit does not land, the staged delete file
    is removed."""
    from .avro_lite import read_avro_file

    def rebase(conflict):
        # Position deletes (touched set) must ALSO reject heads that
        # gained delete content over the touched files: a concurrent
        # UPDATE keeps those files live (it masks rows via new position
        # deletes and adds rewritten image files), so the live-file check
        # alone would pass while rows whose rewritten images still match
        # our predicate silently escape the retried (file,pos)
        # coordinates.
        nonlocal meta, ver
        reloaded = (
            _retry_head(
                path, meta, touched=touched, forbid_new_deletes=bool(touched)
            )
            if path is not None
            else None
        )
        if reloaded is None:
            raise conflict
        meta, ver = reloaded

    def attempt(written):
        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)
        seq = meta.get("last-sequence-number", 0) + 1
        manifest = os.path.join(meta_dir, f"m-{snap_id}-deletes.avro")
        write_avro_file(
            manifest,
            MANIFEST_ENTRY_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": file_content,
                        "file_path": del_file,
                        "file_format": "PARQUET",
                        "record_count": n_rows,
                        "file_size_in_bytes": os.path.getsize(del_file),
                        "equality_ids": equality_ids,
                    },
                }
            ],
        )
        written.append(manifest)
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, prior = read_avro_file(cur["manifest-list"])
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [
                dict(m, sequence_number=m.get("sequence_number", 0))
                for m in prior
            ]
            + [
                {
                    "manifest_path": manifest,
                    "manifest_length": os.path.getsize(manifest),
                    "partition_spec_id": _default_spec_id(meta),
                    "content": 1,  # delete manifest
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            ],
        )
        written.append(mlist)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": "delete"},
        }
        new_meta = dict(
            meta,
            **{
                "last-sequence-number": seq,
                "last-updated-ms": now_ms,
                "snapshots": meta.get("snapshots", []) + [snapshot],
                "current-snapshot-id": snap_id,
            },
        )
        _commit_metadata(meta_dir, ver, new_meta)
        return snap_id

    return commit_with_retry(attempt, rebase=rebase, staged=[del_file])


def write_iceberg_equality_deletes(spark, path: str, keys: DataFrame) -> int:
    """Merge-on-read DELETE BY KEY: commit a v2 EQUALITY delete file whose
    rows are the distinct key tuples of ``keys`` (a DataFrame whose column
    names define the equality columns). Returns the new snapshot id.

    Spec semantics (applied by the reader): a key row deletes every data
    row that matches null-safely on all equality columns AND lives in a
    data file with a strictly lower data sequence number — so appending a
    row with the same key AFTER the delete resurrects the key. This is the
    upsert primitive of streaming CDC writers: the engine knows which keys
    changed without scanning the table, which is exactly when equality
    deletes beat position deletes (no read needed at write time).

    The equality column names must resolve in the table's field-id schema
    (present unless the table was created with complex-typed columns).
    Same single-writer / fail-fast / KB-scale-commit scope as the other
    writers; the delete parquet is driver-written (capped at
    ``_MAX_DELETE_ROWS`` distinct keys).
    """
    import pyarrow.parquet as pq

    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to modify an Iceberg table created by another writer: "
            "use the iceberg-spark-runtime connector"
        )
    schemas = meta.get("schemas") or []
    if not schemas:
        raise NotImplementedError(
            "equality deletes need a field-id schema and this table was "
            "created without one (complex-typed columns): use the "
            "iceberg-spark-runtime connector"
        )
    name_to_id = {f["name"]: f["id"] for f in schemas[0]["fields"]}
    unknown = [c for c in keys.columns if c not in name_to_id]
    if unknown:
        raise ValueError(
            f"equality columns {unknown} not in the table schema "
            f"{sorted(name_to_id)}"
        )
    if not keys.columns:
        raise ValueError("keys DataFrame has no columns")
    equality_ids = [name_to_id[c] for c in keys.columns]

    tbl = keys.distinct().limit(_MAX_DELETE_ROWS + 1).toArrow()
    if tbl.num_rows > _MAX_DELETE_ROWS:
        raise NotImplementedError(
            f"equality delete with more than {_MAX_DELETE_ROWS} distinct "
            "keys: use the iceberg-spark-runtime connector (distributed "
            "delete writes)"
        )
    # deterministic file contents: sort the key tuples
    tbl = tbl.sort_by([(c, "ascending") for c in keys.columns])
    del_file = os.path.join(
        os.path.join(path, "data"), f"eq-delete-{uuid.uuid4().hex[:16]}.parquet"
    )
    pq.write_table(tbl, del_file)
    return _commit_delete_file(
        meta,
        ver,
        meta_dir,
        del_file,
        n_rows=tbl.num_rows,
        file_content=2,
        equality_ids=equality_ids,
        path=path,
        touched=None,  # declarative: re-applies at the new head's seq
    )


def merge_iceberg_rows(
    spark,
    path: str,
    source: DataFrame,
    on: "list[str] | tuple[str, ...]",
    when_matched: str = "update",
    when_not_matched: str = "insert",
    file_format: str = "parquet",
    txn: "tuple[str, int] | None" = None,
    on_conflict: str = "surface",
) -> int:
    """Merge-on-read MERGE (upsert) into the Iceberg v2 table at ``path``
    as ONE ATOMIC ROW-DELTA SNAPSHOT: the equality-delete file naming the
    touched keys and the data files carrying the surviving source rows
    commit together under a single sequence number. The
    delete-snapshot-then-append-snapshot pair (what
    :func:`write_iceberg_equality_deletes` + :func:`write_iceberg_append`
    compose to, and what the CDC sink previously issued per batch) exposes
    a between-state — keys deleted, replacements not yet visible — to any
    concurrent reader and to time travel; the row delta never does. The
    reader's strictly-lower-sequence rule is what makes the single
    sequence number sufficient: old generations of a key (lower data
    sequence) die, this snapshot's own data files (equal sequence) are
    immune to its delete file.

    ``MERGE INTO target USING source ON keys`` subset, mirroring
    :func:`.delta.merge_delta_rows`:

    - ``when_matched``: ``"update"`` replaces the whole target row with
      the source row (UPDATE SET *) or ``"delete"`` drops it;
    - ``when_not_matched``: ``"insert"`` appends unmatched source rows
      (INSERT *) or ``"ignore"`` drops them;
    - a source row with a NULL key never matches (SQL equality), so it
      inserts rather than updates. Spec equality deletes match
      null-SAFELY, which would violate that — NULL-keyed tuples are
      therefore excluded from the delete file (their target twins, if
      any, survive, exactly as SQL MERGE leaves them);
    - duplicate source keys raise only when they match a target row
      (both updates would be order-dependent); duplicate unmatched rows
      all insert, as in SQL MERGE.

    The default ``update`` + ``insert`` upsert is ZERO-READ: deleting an
    absent key is a spec no-op, so the writer never scans the table —
    the reason CDC engines write equality deletes at all. The ambiguity
    probe only reads the table when the source actually contains
    duplicate keys, and the other mode combinations need one key
    semi/anti-join by construction. Lost metadata CAS (round 7): the
    DECLARATIVE zero-read upsert (update+insert, no duplicate source
    keys) auto-retries against the winner's head after ``_retry_head``
    validation — re-applying it at the new sequence number is the serial
    order "winner first, then this merge", and the staged files are
    head-independent. Every OTHER mode's write set was computed against
    key membership (it does not commute): staged files are removed and
    :class:`IcebergCommitConflict` propagates — re-run the merge against
    the winner's state. Scope: source schema == table schema (merge
    never evolves it), parquet or avro (``file_format``) data files
    (avro partitioned or not, like appends since round 6), delete file capped at
    ``_MAX_DELETE_ROWS`` distinct keys. Partitioned targets fan the
    inserted rows out with partition records (same duplicate-column
    write as appends) — the equality-delete side needs no partition
    awareness because the reader applies it globally by key.
    Returns the committed snapshot id."""
    import functools

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError("when_matched must be 'update' or 'delete'")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError("when_not_matched must be 'insert' or 'ignore'")
    if file_format not in ("parquet", "avro"):
        raise ValueError(
            f"file_format must be parquet or avro: {file_format!r}"
        )
    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        # snapshot-isolation serial re-execution (round 8) for the
        # decision-dependent modes validated retry can't absorb: the
        # whole merge re-runs against the winner's head (fresh key
        # membership, fresh ambiguity probe); txn idempotency still
        # short-circuits redelivered batches on each attempt
        return commit_with_retry(
            lambda _written: merge_iceberg_rows(
                spark, path, source, on, when_matched,
                when_not_matched, file_format, txn,
            )
        )
    keys = list(on)
    if not keys:
        raise ValueError("merge needs at least one ON key column")

    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(
            f"no Iceberg table at {path} (merge needs an existing table; "
            "create it with write_iceberg_append)"
        )
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to merge into an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    if _txn_already_committed(meta, txn):
        # redelivered batch (same semantics as write_iceberg_append's
        # txn): the summary marker proves this (app, version) landed
        return meta["current-snapshot-id"]
    schemas = meta.get("schemas") or []
    if not schemas:
        raise NotImplementedError(
            "merge needs a field-id schema and this table was created "
            "without one (complex-typed columns)"
        )
    table_fields = schemas[0]["fields"]
    name_to_id = {f["name"]: f["id"] for f in table_fields}
    bad = [k for k in keys if k not in name_to_id]
    if bad:
        raise ValueError(
            f"ON columns {bad} not in the table schema {sorted(name_to_id)}"
        )
    incoming = _iceberg_schema(source.schema)
    tb = {f["name"]: f["type"] for f in table_fields}
    inc = {
        f["name"]: f["type"] for f in (incoming or {}).get("fields", [])
    }
    if set(inc) != set(tb) or any(
        not _type_equal(inc[n], t) for n, t in tb.items()
    ):
        raise ValueError(
            f"merge source schema {sorted(inc.keys()) or None} does not "
            f"equal the table schema {sorted(tb.keys())} (merge never "
            "evolves the schema; use write_iceberg_append)"
        )
    if file_format == "avro":
        _AVRO_OK = {"int", "long", "float", "double", "string", "boolean"}
        if any(
            not isinstance(t, str) or t not in _AVRO_OK for t in tb.values()
        ):
            raise NotImplementedError(
                "avro merge data files support primitive "
                "int/long/float/double/string/boolean columns only"
            )
    # partitioned targets: resolve the spec so the inserted rows fan out
    # with partition records (the equality-delete side is partition-
    # independent — the reader applies it globally by key)
    from .iceberg_transforms import spec_field_to_part_field

    pfs = []
    spec_fields = (meta.get("partition-specs") or [{}])[
        meta.get("default-spec-id", 0)
    ].get("fields", [])
    if spec_fields:
        pfs = [
            spec_field_to_part_field(f, table_fields) for f in spec_fields
        ]
    part_fields = [(pf.name, pf.value_type) for pf in pfs]
    table_cols = [f["name"] for f in table_fields]
    src = source.select(*table_cols)

    from .readers import read_iceberg_snapshot

    # ambiguity gate — reads the table only when duplicates exist at all
    dup_keys = (
        src.groupBy(*keys).count().filter(F.col("count") > 1).drop("count")
    )
    has_dups = not dup_keys.isEmpty()
    if has_dups:
        tgt = read_iceberg_snapshot(spark, path).select(*keys)
        if dup_keys.join(tgt, keys, "left_semi").limit(1).count():
            raise ValueError(
                "merge is ambiguous: more than one source row matches the "
                "same target row (duplicate ON keys in source)"
            )
    # a merge is DECLARATIVE — safe to re-apply verbatim on a new head —
    # only when neither its write set nor its validity was decided by
    # reading the table: the zero-read upsert with no duplicate source
    # keys. Every other mode's matched/unmatched split (or the ambiguity
    # probe's verdict) could flip under the winning commit.
    retryable = (
        when_matched == "update"
        and when_not_matched == "insert"
        and not has_dups
    )

    # write set + delete-key set per mode (upsert = the zero-read path)
    if when_matched == "update" and when_not_matched == "insert":
        rows, del_src = src, src
    elif when_matched == "update":  # matched-only update
        matched = src.join(
            read_iceberg_snapshot(spark, path).select(*keys).distinct(),
            keys,
            "left_semi",
        )
        rows, del_src = matched, matched
    elif when_not_matched == "insert":  # delete matched, insert the rest
        rows = src.join(
            read_iceberg_snapshot(spark, path).select(*keys).distinct(),
            keys,
            "left_anti",
        )
        del_src = src
    else:  # delete matched only (absent keys no-op by spec)
        rows, del_src = None, src

    nonnull = functools.reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]
    )
    del_tbl = (
        del_src.filter(nonnull)
        .select(*keys)
        .distinct()
        .limit(_MAX_DELETE_ROWS + 1)
        .toArrow()
    )
    if del_tbl.num_rows > _MAX_DELETE_ROWS:
        raise NotImplementedError(
            f"merge touches more than {_MAX_DELETE_ROWS} distinct keys: "
            "use the iceberg-spark-runtime connector (distributed delete "
            "writes)"
        )
    del_tbl = del_tbl.sort_by([(c, "ascending") for c in keys])

    # stage the data files (distributed write; zero-row shards dropped)
    new_files: list[tuple[str, dict | None, str, int | None]] = []
    del_file: str | None = None
    stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
    try:
        if rows is not None:
            if file_format == "avro":
                counts = _write_avro_data_files(rows, stage, pfs)
                for f in sorted(counts):
                    n, pv = counts[f]
                    if not n:
                        continue
                    dest = os.path.join(
                        data_dir, f"{uuid.uuid4().hex[:16]}.avro"
                    )
                    shutil.move(f, dest)
                    new_files.append((dest, pv, "AVRO", n))
            elif pfs:
                for dest, pvals in _stage_partitioned_parquet(
                    rows, path, data_dir, pfs
                ):
                    if not pq.read_metadata(dest).num_rows:
                        os.remove(dest)
                        continue
                    new_files.append((dest, pvals, "PARQUET", None))
            else:
                rows.write.parquet(stage)
                for f in sorted(glob(os.path.join(stage, "*.parquet"))):
                    if not pq.read_metadata(f).num_rows:
                        continue
                    dest = os.path.join(
                        data_dir, f"{uuid.uuid4().hex[:16]}.parquet"
                    )
                    shutil.move(f, dest)
                    new_files.append((dest, None, "PARQUET", None))
        if del_tbl.num_rows:
            del_file = os.path.join(
                data_dir, f"eq-delete-{uuid.uuid4().hex[:16]}.parquet"
            )
            pq.write_table(del_tbl, del_file)
    except BaseException:
        # a failed staging leaves nothing it moved into the table directory
        remove_quietly(
            [p for p, _pv, _fmt, _n in new_files]
            + ([del_file] if del_file else [])
        )
        raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    if not new_files and del_file is None:
        raise ValueError(
            "merge changed nothing (empty source, or no matching "
            "keys with inserts ignored)"
        )

    from .avro_lite import read_avro_file

    def rebase(conflict):
        # only the declarative upsert re-applies on the winner's head;
        # the staged data/delete files are head-independent
        nonlocal meta, ver
        reloaded = _retry_head(path, meta) if retryable else None
        if reloaded is None:
            raise conflict
        meta, ver = reloaded
        if _txn_already_committed(meta, txn):
            # the CAS winner carried this very txn (redelivered batch
            # racing itself): nothing to commit
            return meta["current-snapshot-id"]

    def attempt(written):
        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)
        seq = meta.get("last-sequence-number", 0) + 1
        new_manifests = []
        if new_files:
            entries = []
            for f, pvals, fmt, nrows in new_files:
                if fmt == "PARQUET":
                    pmeta = pq.read_metadata(f)
                    lo, hi = _file_bounds(pmeta, schemas[0])
                    nrows = pmeta.num_rows
                else:
                    lo = hi = None
                rec = {
                    "content": 0,
                    "file_path": f,
                    "file_format": fmt,
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(f),
                    "lower_bounds": lo,
                    "upper_bounds": hi,
                }
                if part_fields:
                    rec["partition"] = pvals
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "data_file": rec,
                    }
                )
            manifest = os.path.join(meta_dir, f"m-{snap_id}.avro")
            write_avro_file(
                manifest,
                _partition_manifest_schema(part_fields)
                if part_fields
                else MANIFEST_ENTRY_SCHEMA,
                entries,
            )
            written.append(manifest)
            new_manifests.append((manifest, 0))
        if del_file is not None:
            dmanifest = os.path.join(
                meta_dir, f"m-{snap_id}-deletes.avro"
            )
            write_avro_file(
                dmanifest,
                MANIFEST_ENTRY_SCHEMA,
                [
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "data_file": {
                            "content": 2,
                            "file_path": del_file,
                            "file_format": "PARQUET",
                            "record_count": del_tbl.num_rows,
                            "file_size_in_bytes": os.path.getsize(
                                del_file
                            ),
                            "equality_ids": [
                                name_to_id[c] for c in keys
                            ],
                        },
                    }
                ],
            )
            written.append(dmanifest)
            new_manifests.append((dmanifest, 1))

        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, prior = read_avro_file(cur["manifest-list"])
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [
                dict(m, sequence_number=m.get("sequence_number", 0))
                for m in prior
            ]
            + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": _default_spec_id(meta),
                    "content": mcontent,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
                for mpath, mcontent in new_manifests
            ],
        )
        written.append(mlist)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "summary": {"operation": "overwrite"},
        }
        if txn is not None:
            snapshot["summary"]["txn-app"] = txn[0]
            snapshot["summary"]["txn-version"] = str(int(txn[1]))
        new_meta = dict(
            meta,
            **{
                "last-sequence-number": seq,
                "last-updated-ms": now_ms,
                "snapshots": meta.get("snapshots", []) + [snapshot],
                "current-snapshot-id": snap_id,
            },
        )
        _commit_metadata(meta_dir, ver, new_meta)
        return snap_id

    return commit_with_retry(
        attempt,
        rebase=rebase,
        staged=[p for p, _pv, _fmt, _n in new_files]
        + ([del_file] if del_file else []),
    )


def update_iceberg_rows(
    spark,
    path: str,
    predicate,
    set_exprs: dict[str, str],
    on_conflict: str = "surface",
) -> int:
    """Merge-on-read UPDATE by predicate — the verb-matrix completion
    next to :func:`merge_iceberg_rows` (keyed upsert) and
    :func:`write_iceberg_position_deletes` (delete): ONE row-delta
    snapshot carrying a POSITION-delete file for the matched rows'
    (file, pos) coordinates and data files holding their updated images
    (``set_exprs``: column → SQL expression over the old row, cast back
    to the declared type). Position deletes are the right delete kind
    here because an UPDATE must kill exact physical rows, not keys — a
    predicate needn't determine a key — and the writer just scanned the
    coordinates anyway. No reader can observe rows-gone-images-missing:
    both files commit under one sequence number (position deletes apply
    by coordinates, so the fresh-pathed new files are untouchable by
    construction). Same bounded-collect posture as the delete writer
    (``_MAX_DELETE_ROWS``); unpartitioned + partitioned parquet tables
    (updated rows fan out to their — possibly new — partitions).
    Raises if nothing matches. Returns the new snapshot id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .readers import _iceberg_live_scan

    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        # snapshot-isolation serial re-execution (round 8): re-run the
        # whole UPDATE against the winner's head — fresh scan, fresh
        # coordinates, fresh rewritten images
        return commit_with_retry(
            lambda _written: update_iceberg_rows(
                spark, path, predicate, set_exprs
            )
        )
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to update an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    schemas = meta.get("schemas") or []
    if not schemas:
        raise NotImplementedError(
            "update needs a field-id schema (complex-typed columns)"
        )
    table_fields = schemas[0]["fields"]
    table_cols = [f["name"] for f in table_fields]
    bad = [c for c in set_exprs if c not in table_cols]
    if bad:
        raise ValueError(f"SET columns {bad} not in the table schema")
    from .iceberg_transforms import spec_field_to_part_field

    pfs = []
    spec_fields = (meta.get("partition-specs") or [{}])[
        meta.get("default-spec-id", 0)
    ].get("fields", [])
    if spec_fields:
        pfs = [
            spec_field_to_part_field(f, table_fields) for f in spec_fields
        ]
    part_fields = [(pf.name, pf.value_type) for pf in pfs]

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    live = _iceberg_live_scan(spark, path, keep_coords=True)
    types = dict(live.drop("__fp", "__pos").dtypes)
    matched = live.filter(pred).select(
        "__fp",
        "__pos",
        *[
            F.expr(set_exprs[c]).cast(types[c]).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in table_cols
        ],
    )
    coords = (
        matched.select(
            F.col("__fp").alias("file_path"),
            F.col("__pos").alias("pos"),
        )
        .limit(_MAX_DELETE_ROWS + 1)
        .collect()
    )
    if not coords:
        raise ValueError(f"UPDATE predicate {predicate!r} matched no rows")
    if len(coords) > _MAX_DELETE_ROWS:
        raise NotImplementedError(
            f"update touches more than {_MAX_DELETE_ROWS} rows: rewrite "
            "the table (rewrite_iceberg_table) or use the connector"
        )
    rows = sorted((r.file_path, r.pos) for r in coords)

    new_files: list[tuple[str, dict | None]] = []
    del_file: str | None = None
    stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
    try:
        updated = matched.select(*table_cols)
        if pfs:
            for f, pv in _stage_partitioned_parquet(
                updated, path, data_dir, pfs
            ):
                if pq.read_metadata(f).num_rows:
                    new_files.append((f, pv))
                else:
                    os.remove(f)
        else:
            updated.write.parquet(stage)
            for f in sorted(glob(os.path.join(stage, "*.parquet"))):
                if not pq.read_metadata(f).num_rows:
                    continue
                dest = os.path.join(
                    data_dir, f"{uuid.uuid4().hex[:16]}.parquet"
                )
                shutil.move(f, dest)
                new_files.append((dest, None))

        del_file = os.path.join(
            data_dir, f"delete-{uuid.uuid4().hex[:16]}.parquet"
        )
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        [r[0] for r in rows], pa.string()
                    ),
                    "pos": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            del_file,
        )
    except BaseException:
        # a failed staging leaves nothing it moved into the table directory
        remove_quietly(
            [p for p, _pv in new_files] + ([del_file] if del_file else [])
        )
        raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    from .avro_lite import read_avro_file

    def rebase(conflict):
        # retry only when the winner provably didn't touch our basis:
        # every file whose rows we re-wrote is still live AND the winner
        # added no delete content that could mask rows in them (our
        # rewritten images would resurrect an interleaved delete)
        nonlocal meta, ver
        reloaded = _retry_head(
            path, meta, touched={r[0] for r in rows}, forbid_new_deletes=True
        )
        if reloaded is None:
            raise conflict
        meta, ver = reloaded

    def attempt(written):
        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)
        seq = meta.get("last-sequence-number", 0) + 1
        new_manifests: list[tuple[str, int]] = []
        if new_files:
            entries = []
            for f, pvals in new_files:
                pmeta = pq.read_metadata(f)
                lo, hi = _file_bounds(pmeta, schemas[0])
                rec = {
                    "content": 0,
                    "file_path": f,
                    "file_format": "PARQUET",
                    "record_count": pmeta.num_rows,
                    "file_size_in_bytes": os.path.getsize(f),
                    "lower_bounds": lo,
                    "upper_bounds": hi,
                }
                if part_fields:
                    rec["partition"] = pvals
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snap_id,
                        "data_file": rec,
                    }
                )
            manifest = os.path.join(meta_dir, f"m-{snap_id}.avro")
            write_avro_file(
                manifest,
                _partition_manifest_schema(part_fields)
                if part_fields
                else MANIFEST_ENTRY_SCHEMA,
                entries,
            )
            written.append(manifest)
            new_manifests.append((manifest, 0))
        dmanifest = os.path.join(meta_dir, f"m-{snap_id}-deletes.avro")
        write_avro_file(
            dmanifest,
            MANIFEST_ENTRY_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 1,
                        "file_path": del_file,
                        "file_format": "PARQUET",
                        "record_count": len(rows),
                        "file_size_in_bytes": os.path.getsize(del_file),
                    },
                }
            ],
        )
        written.append(dmanifest)
        new_manifests.append((dmanifest, 1))

        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, prior = read_avro_file(cur["manifest-list"])
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [
                dict(m, sequence_number=m.get("sequence_number", 0))
                for m in prior
            ]
            + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": _default_spec_id(meta),
                    "content": mcontent,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
                for mpath, mcontent in new_manifests
            ],
        )
        written.append(mlist)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "summary": {"operation": "overwrite"},
        }
        _commit_metadata(
            meta_dir,
            ver,
            dict(
                meta,
                **{
                    "last-sequence-number": seq,
                    "last-updated-ms": now_ms,
                    "snapshots": meta.get("snapshots", [])
                    + [snapshot],
                    "current-snapshot-id": snap_id,
                },
            ),
        )
        return snap_id

    return commit_with_retry(
        attempt,
        rebase=rebase,
        staged=[p for p, _pv in new_files] + [del_file],
    )


@recompute_on_conflict
def rewrite_iceberg_table(
    spark,
    path: str,
    min_files_per_partition: int | None = None,
    sort_by: tuple[str, ...] = (),
    zorder: bool = False,
) -> int:
    """MAJOR COMPACTION (the maintenance job behind a merge-on-read
    writer like :func:`~..streaming.ops.iceberg_cdc_upsert`): materialize
    the current LIVE rows — all position and equality deletes applied —
    into fresh data files and commit a REPLACE snapshot whose manifest
    list references ONLY them. Readers of the new snapshot touch zero
    delete files (scan cost returns to pure-append shape); older
    snapshots keep their old manifest lists, so time travel still sees
    merge-on-read history. Returns the new snapshot id.

    ``min_files_per_partition`` switches to INCREMENTAL BIN-PACKING —
    the small-file maintenance job: only partitions holding at least
    that many live files are rewritten; everything else is carried into
    the new snapshot untouched (kept entries keep their partition
    records, column bounds, AND — via an explicit entry-level sequence
    number — their original data sequence, so pruning, zone maps, and
    merge-on-read delete scoping all survive). A no-op (nothing
    fragmented) returns the current snapshot id without committing.
    Tables with live delete files bin-pack incrementally too: the
    fragmented files are read through the live scan (deletes applied)
    and land at the new sequence, kept files stay masked by the delete
    manifests carried verbatim into the new list. At 100 TB this is the
    difference between rewriting a handful of hot partitions and
    rewriting the table.

    PARTITION SPEC EVOLUTION composes with incremental bin-packing
    (round 8): fragmentation is judged and compacted PER (spec,
    partition) group — old-spec fragments merge with old-spec
    fragments under their own layout, each output/kept manifest is
    stamped with its group's spec id, and files are never merged across
    specs (re-deriving partition records under one spec is the full
    rewrite's job). Maintenance therefore stays incremental after an
    evolution instead of demanding a table-scale migration first.

    ``sort_by`` RE-CLUSTERS during the rewrite (unpartitioned tables):
    the production lifecycle is unsorted fast-appends + a clustering
    compactor — the rewrite's range exchange + in-partition sort gives
    the compacted files near-disjoint zone-map bounds exactly like a
    clustered append (:func:`write_iceberg_append` ``sort_by``), at a
    moment the data is being rewritten anyway, so the clustering is
    FREE of extra passes.

    Scale: the rewrite is one distributed scan + write (the same
    anti-joins the reader does); the commit is KB-scale metadata.
    Partitioned tables regroup per partition tuple in the same single
    fan-out pass the append path uses, so partition records — and
    therefore pruning — survive compaction. Same single-writer /
    fail-fast scope as the other writers."""
    import pyarrow.parquet as pq

    from .readers import _iceberg_live_scan, _iceberg_snapshot_files

    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to rewrite an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    bounds_schema = (meta.get("schemas") or [None])[0]
    kept_by_spec: dict[int, list] = {}
    frag_by_spec: dict[int, list] = {}
    carried_delete_manifests: list[dict] = []
    if min_files_per_partition is None:
        live = _iceberg_live_scan(spark, path)
    else:
        data_files, pos_del, eq_del, snap = _iceberg_snapshot_files(path)
        # PARTITION SPEC EVOLUTION (round 8, replacing the round-7
        # refuse-mixed-spec gate): incremental bin-packing is PER SPEC
        # GROUP. Every live entry carries its source spec id (the
        # manifest-list row's partition_spec_id, exposed by
        # _iceberg_snapshot_files), fragmentation is judged within
        # (spec, partition-tuple) groups — partition records from
        # different specs are not comparable — and each group's
        # compacted + kept entries land in manifests STAMPED WITH THAT
        # GROUP'S OWN spec id, so partition records never get mislabeled
        # and per-spec pruning proofs survive. Files are never merged
        # ACROSS specs (that would need re-deriving partition records
        # under one spec — the full rewrite's job); after an evolution,
        # maintenance stays incremental instead of demanding a
        # table-scale migration first.
        if pos_del or eq_del:
            # live delete files compose with incremental bin-packing via
            # per-entry sequence numbers: kept entries PIN their original
            # data sequence (so every delete keeps applying to them),
            # rewritten partitions are read through the live scan (all
            # deletes applied) and land at the NEW sequence (so no old
            # delete touches them), and the delete manifests are carried
            # into the new manifest list verbatim. Delete rows aimed at
            # rewritten files go dangling — the reader's anti-joins
            # simply never match them; a later full rewrite (or the
            # natural churn of merges) retires them.
            from .avro_lite import read_avro_file as _read_avro

            _, _all_m = _read_avro(snap["manifest-list"])
            carried_delete_manifests = [
                dict(m, sequence_number=m.get("sequence_number", 0))
                for m in _all_m
                if m.get("content", 0) == 1
            ]
        by_part: dict = {}
        for e in data_files:
            key = (e.spec_id, tuple(sorted((e.partition or {}).items())))
            by_part.setdefault(key, []).append(e)
        frag = [
            e
            for entries_ in by_part.values()
            if len(entries_) >= min_files_per_partition
            for e in entries_
        ]
        # row-format AVRO fast-append files are ALWAYS bin-packed —
        # converting them to columnar parquet is this job's purpose
        frag += [
            e for e in data_files if e.fmt == "AVRO" and e not in frag
        ]
        if not frag:
            return snap["snapshot-id"]  # nothing fragmented — no-op
        kept = [e for e in data_files if e not in frag]
        type_by_fid = (
            {str(f["id"]): f["type"] for f in bounds_schema["fields"]}
            if bounds_schema
            else {}
        )

        def _reencode(bounds: dict | None) -> dict | None:
            if not bounds:
                return None
            return {
                fid: encode_bound_value(type_by_fid[fid], v)
                for fid, v in bounds.items()
                if fid in type_by_fid
            } or None

        for e in kept:
            # kept entries are parquet by construction: every avro entry
            # was routed into frag above. Their EXPLICIT sequence number
            # pins the original data sequence — mandatory when delete
            # files are live (the strictly-lower rule must keep masking
            # them), harmless otherwise. Grouped by SOURCE SPEC so each
            # kept manifest is stamped with the spec its partition
            # records were written under.
            kept_by_spec.setdefault(e.spec_id, []).append(
                {
                    "status": 1,
                    "snapshot_id": None,  # filled with the new snap id
                    "sequence_number": e.seq,
                    "data_file": {
                        "content": 0,
                        "file_path": e.path,
                        "file_format": "PARQUET",
                        "record_count": pq.read_metadata(e.path).num_rows,
                        "file_size_in_bytes": os.path.getsize(e.path),
                        "partition": e.partition,
                        "lower_bounds": _reencode(e.lower),
                        "upper_bounds": _reencode(e.upper),
                    },
                }
            )
        for e in frag:
            frag_by_spec.setdefault(e.spec_id, []).append(e)
    # partitioned tables regroup per partition tuple (the same
    # duplicate-column partitionBy fan-out as the append path), so the
    # compacted entries keep their partition records and pruning stays
    # correct after compaction
    from .iceberg_transforms import spec_field_to_part_field

    def _spec_layout(spec_id: int):
        """(pfs, part_fields) for one spec id — ``([], [])`` means
        unpartitioned. Positional index is the legacy fallback for
        metadata whose spec entries carry no ``spec-id`` key."""
        specs = meta.get("partition-specs") or []
        spec = next(
            (s for i, s in enumerate(specs) if s.get("spec-id", i) == spec_id),
            None,
        )
        if not spec or not spec.get("fields"):
            return [], []
        if not bounds_schema:
            raise NotImplementedError(
                "partitioned rewrite needs the table's field-id schema"
            )
        pfs_g = [
            spec_field_to_part_field(f, bounds_schema["fields"])
            for f in spec["fields"]
        ]
        return pfs_g, [(pf.name, pf.value_type) for pf in pfs_g]

    pfs, part_fields = _spec_layout(_default_spec_id(meta))

    if sort_by:
        if part_fields:
            raise NotImplementedError(
                "sort_by re-clustering is unpartitioned-only (partition "
                "fan-out already groups the write)"
            )
        schema_cols = (
            [f["name"] for f in bounds_schema["fields"]]
            if bounds_schema
            else None
        )
        if schema_cols is not None:
            bad = [c for c in sort_by if c not in schema_cols]
            if bad:
                raise ValueError(
                    f"sort_by columns {bad} not in the schema"
                )

    def _cluster(df_in):
        """Apply the sort_by range clustering to one rewrite input."""
        if not sort_by:
            return df_in
        from pyspark.sql import functions as F

        num = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
        if zorder:
            from .zorder import zvalue_column

            zc = zvalue_column(df_in, tuple(sort_by))
            return df_in.repartitionByRange(num, zc).sortWithinPartitions(zc)
        return df_in.repartitionByRange(
            num, *[F.col(c) for c in sort_by]
        ).sortWithinPartitions(*sort_by)

    def _stage_group(live_df, pfs_g, part_fields_g, pack):
        """Distributed write of one rewrite input under one spec's
        layout; returns [(abs path, partition record|None)]."""
        stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
        group_files: list[tuple[str, dict | None]] = []
        try:
            if part_fields_g:
                # bin-packing must actually PACK (``pack=True``):
                # collapse each rewritten partition tuple to one task →
                # one output file (the live scan's joins scatter rows
                # across tasks, and the fan-out writer emits one file
                # per task×dir). One shuffle of only the fragmented rows
                # — that shuffle IS the packing. A partition whose live
                # bytes exceed a single-file target is not a small-file
                # problem; rewrite it with the full path instead.
                group_files.extend(
                    _stage_partitioned_parquet(
                        live_df, path, data_dir, pfs_g, pack=pack
                    )
                )
            else:
                if pack and not sort_by:
                    # bin-packing an unpartitioned group must PACK too:
                    # the live scan mirrors the fragmented input's task
                    # layout, so an unshaped write reproduces the
                    # fragmentation file-for-file (round 8 — the old
                    # path only packed partitioned groups). One file per
                    # ~128 MiB of input bytes, floor 1 (the OPTIMIZE
                    # byte-budget rule); sort_by shapes the write itself
                    # via the range exchange.
                    total = sum(
                        os.path.getsize(e.path)
                        for grp in frag_by_spec.values()
                        for e in grp
                        if os.path.exists(e.path)
                    )
                    n = max(1, -(-total // (128 * 1024 * 1024)))
                    live_df = live_df.coalesce(int(n))
                live_df.write.parquet(stage)
                for f in sorted(glob(os.path.join(stage, "*.parquet"))):
                    dest = os.path.join(
                        data_dir, f"{uuid.uuid4().hex[:16]}.parquet"
                    )
                    shutil.move(f, dest)
                    group_files.append((dest, None))
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return group_files

    new_files_by_spec: dict[int, list] = {}
    if min_files_per_partition is None:
        new_files_by_spec[_default_spec_id(meta)] = _stage_group(
            _cluster(live), pfs, part_fields, pack=False
        )
        if not new_files_by_spec[_default_spec_id(meta)]:
            raise ValueError(
                "rewrite produced no data files (empty live set)"
            )
    else:
        # one rewrite input PER SPEC GROUP: the fragmented files' LIVE
        # rows (position + equality deletes applied, parquet + avro
        # unioned — the compacted replacement must not resurrect deleted
        # rows), written back under that group's OWN spec layout. A
        # group whose live rows are all masked legitimately compacts to
        # zero files.
        for sid in sorted(frag_by_spec):
            pfs_g, part_fields_g = _spec_layout(sid)
            live_g = _iceberg_live_scan(
                spark, path, only_files={e.path for e in frag_by_spec[sid]}
            )
            if not part_fields_g:
                live_g = _cluster(live_g)
            new_files_by_spec[sid] = _stage_group(
                live_g, pfs_g, part_fields_g, pack=True
            )

    new_files: list[tuple[str, dict | None]] = [
        nf for files in new_files_by_spec.values() for nf in files
    ]
    now_ms = int(time.time() * 1000)
    snap_id = now_ms * 1000 + (ver + 1)
    seq = meta.get("last-sequence-number", 0) + 1
    # REPLACE semantics: the new manifest list holds ONLY this snapshot's
    # manifests — per SPEC GROUP, one manifest of compacted files plus
    # (incremental bin-pack only) one manifest carrying the untouched
    # entries verbatim (explicit sequence numbers pinned), every row
    # stamped with its group's spec id; when the table had live delete
    # files, the delete manifests are carried unchanged so kept files
    # stay masked (the full rewrite applies-and-drops all deletes).
    mlist_rows: list[dict] = []
    for sid in sorted(new_files_by_spec):
        files = new_files_by_spec[sid]
        if not files:
            continue
        _pfs_g, part_fields_g = _spec_layout(sid)
        entry_schema = (
            _partition_manifest_schema(part_fields_g)
            if part_fields_g
            else MANIFEST_ENTRY_SCHEMA
        )
        entries = []
        for f, pvals in files:
            pmeta = pq.read_metadata(f)
            lo, hi = _file_bounds(pmeta, bounds_schema)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 0,
                        "file_path": f,
                        "file_format": "PARQUET",
                        "record_count": pmeta.num_rows,
                        "file_size_in_bytes": os.path.getsize(f),
                        "partition": pvals,
                        "lower_bounds": lo,
                        "upper_bounds": hi,
                    },
                }
            )
        manifest = os.path.join(meta_dir, f"m-{snap_id}-s{sid}.avro")
        write_avro_file(manifest, entry_schema, entries)
        mlist_rows.append(
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": sid,
                "content": 0,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
    for sid in sorted(kept_by_spec):
        kents = kept_by_spec[sid]
        for ke in kents:
            ke["snapshot_id"] = snap_id
        _pfs_g, part_fields_g = _spec_layout(sid)
        entry_schema = (
            _partition_manifest_schema(part_fields_g)
            if part_fields_g
            else MANIFEST_ENTRY_SCHEMA
        )
        kept_manifest = os.path.join(
            meta_dir, f"m-{snap_id}-kept-s{sid}.avro"
        )
        write_avro_file(kept_manifest, entry_schema, kents)
        mlist_rows.append(
            {
                "manifest_path": kept_manifest,
                "manifest_length": os.path.getsize(kept_manifest),
                "partition_spec_id": sid,
                "content": 0,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
    if not mlist_rows:
        raise ValueError("rewrite produced no data files (empty live set)")
    mlist_rows.extend(carried_delete_manifests)
    mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    write_avro_file(mlist, MANIFEST_FILE_SCHEMA, mlist_rows)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist,
        "summary": {"operation": "replace"},
    }
    new_meta = dict(
        meta,
        **{
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "snapshots": meta.get("snapshots", []) + [snapshot],
            "current-snapshot-id": snap_id,
        },
    )
    # lost the CAS race: this run's staged artifacts (compacted data
    # files + the manifests/list referencing them) are garbage — removed
    # NOW instead of deferred to remove_orphan_files, so a retry burst
    # strands zero bytes; the decorator re-runs the verb on the new head
    commit_with_retry(
        lambda _written: _commit_metadata(meta_dir, ver, new_meta),
        attempts=1,
        staged=[p for p, _pv in new_files]
        + [
            r["manifest_path"]
            for r in mlist_rows
            if r["added_snapshot_id"] == snap_id
        ]
        + [mlist],
    )
    return snap_id


def rewrite_iceberg_manifests(path: str, min_manifests: int = 3) -> int:
    """METADATA-ONLY manifest consolidation (the connector's
    ``rewrite_manifests`` action): collapse the current snapshot's
    manifest list — which grows by one data manifest per append and up
    to two per merge, so a CDC table accumulates THOUSANDS — into at
    most one data manifest PER LIVE PARTITION SPEC (one total on
    un-evolved tables; round 8 made consolidation per-spec-group, since
    a consolidated manifest holds a single partition-record shape) plus
    one delete manifest, and commit a ``replace`` snapshot referencing
    only those. No data file is read,
    moved, or rewritten; the whole job is KB/MB-scale driver Avro. At
    100 TB this is what keeps scan PLANNING O(live files) instead of
    O(commit history): the reader opens every manifest in the list
    before it can prune a single file, so a ten-thousand-commit CDC
    table pays ten thousand driver-side Avro opens per query until its
    manifests are consolidated.

    Correctness hinges on the spec's sequence-number inheritance:
    entries moved into the consolidated manifest get their EFFECTIVE
    data sequence number written EXPLICITLY (entry-level
    ``sequence_number``), so the strictly-lower equality-delete scoping
    rule keeps producing identical results — a pre-delete data file
    stays masked, the delete's own generation stays live — even though
    every entry now travels in a manifest whose list row carries the new
    snapshot's sequence number. Position-delete and equality-delete
    entries consolidate into the delete manifest the same way.

    ``min_manifests`` is the no-op valve: a list already at or under
    the target shape (and under this count) returns the current snapshot
    id without committing. Older snapshots keep their original manifest
    lists — time travel and incremental reads see unconsolidated
    history. Same single-writer / fail-fast / CAS scope as the other
    writers; consolidation must see a settled manifest list, so a lost
    CAS reloads and rebuilds from the winner's head."""
    from .avro_lite import read_avro_file

    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to rewrite manifests of an Iceberg table created "
            "by another writer: use the iceberg-spark-runtime connector"
        )

    def rebase(_conflict):
        # consolidation must see a settled manifest list: rebuild from
        # the winner's head
        nonlocal meta, ver
        meta, ver = _load_meta(meta_dir)

    def attempt(written):
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifests = read_avro_file(cur["manifest-list"])
        data_specs = {
            m.get("partition_spec_id", 0)
            for m in manifests
            if m.get("content", 0) == 0
        }
        n_data = sum(1 for m in manifests if m.get("content", 0) == 0)
        n_del = len(manifests) - n_data
        # PARTITION SPEC EVOLUTION (round 8, replacing the round-7
        # refuse-mixed-spec gate): consolidate PER SPEC GROUP — a
        # consolidated manifest holds one partition-record shape, so
        # entries merge only within their own spec; the output is one
        # data manifest PER live spec (+ one delete manifest), each
        # list row stamped with its group's spec id. Entries are never
        # re-partitioned across specs (the full rewrite's job). The
        # no-op valve scales with the live spec-group count.
        if (
            n_data <= max(1, len(data_specs)) and n_del <= 1
        ) or len(manifests) < min_manifests:
            return cur["snapshot-id"]  # already consolidated / under valve

        data_by_spec: dict[int, list[dict]] = {}
        del_entries: list[dict] = []
        for m in manifests:
            m_seq = m.get("sequence_number", 0)
            m_spec = m.get("partition_spec_id", 0)
            _, entries = read_avro_file(m["manifest_path"])
            for e in entries:
                if e.get("status") == 2:  # not live — drop from the copy
                    continue
                eff = e.get("sequence_number")
                eff = m_seq if eff is None else eff
                rec = {
                    # copied (not newly added) entries are EXISTING per
                    # the spec, so a foreign engine's incremental scan
                    # of this snapshot doesn't misreport them as new;
                    # EXISTING forbids inheritance, so snapshot_id and
                    # sequence_number are written EXPLICITLY (falling
                    # back to the source manifest's values when the
                    # entry relied on inheritance)
                    "status": 0,
                    "snapshot_id": (
                        m.get("added_snapshot_id")
                        if e.get("snapshot_id") is None
                        else e["snapshot_id"]
                    ),
                    "sequence_number": eff,
                    "data_file": e["data_file"],
                }
                if e["data_file"].get("content", 0) == 0:
                    data_by_spec.setdefault(m_spec, []).append(rec)
                else:
                    del_entries.append(rec)

        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)
        seq = meta.get("last-sequence-number", 0) + 1
        new_rows = []
        for spec_id in sorted(data_by_spec):
            mpath = os.path.join(meta_dir, f"m-{snap_id}-s{spec_id}.avro")
            write_avro_file(
                mpath,
                _entry_schema_for_spec(meta, spec_id),
                data_by_spec[spec_id],
            )
            written.append(mpath)
            new_rows.append((mpath, 0, spec_id))
        if del_entries:
            dpath = os.path.join(meta_dir, f"m-{snap_id}-deletes.avro")
            write_avro_file(dpath, MANIFEST_ENTRY_SCHEMA, del_entries)
            written.append(dpath)
            new_rows.append((dpath, 1, _default_spec_id(meta)))
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    # each row stamped with its SOURCE manifests' spec,
                    # not the default — consolidation moves old entries,
                    # it doesn't re-partition them
                    "partition_spec_id": mspec,
                    "content": mcontent,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
                for mpath, mcontent, mspec in new_rows
            ],
        )
        written.append(mlist)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "summary": {"operation": "replace"},
        }
        new_meta = dict(
            meta,
            **{
                "last-sequence-number": seq,
                "last-updated-ms": now_ms,
                "snapshots": meta.get("snapshots", []) + [snapshot],
                "current-snapshot-id": snap_id,
            },
        )
        _commit_metadata(meta_dir, ver, new_meta)
        return snap_id

    return commit_with_retry(attempt, rebase=rebase)


def _entry_schema_for_spec(meta: dict, spec_id: int) -> dict:
    """Manifest-entry Avro schema carrying ``spec_id``'s partition record
    shape (the plain schema when that spec is unpartitioned) — shared by
    the metadata-only verbs that COPY entries between manifests without
    re-partitioning them."""
    specs = meta.get("partition-specs") or []
    spec = next(
        (s for i, s in enumerate(specs) if s.get("spec-id", i) == spec_id),
        None,
    )
    if not spec or not spec.get("fields"):
        return MANIFEST_ENTRY_SCHEMA
    from .iceberg_transforms import spec_field_to_part_field

    schema_fields = (meta.get("schemas") or [{}])[0].get("fields", [])
    pfs = [
        spec_field_to_part_field(f, schema_fields) for f in spec["fields"]
    ]
    return _partition_manifest_schema(
        [(pf.name, pf.value_type) for pf in pfs]
    )


def partition_row_counts(path: str, col: str) -> "dict | None":
    """EXACT live row count per value of partition field ``col`` from
    the current snapshot's MANIFESTS alone — zero data I/O: live data
    entries' ``record_count`` summed per typed partition value. Returns
    None — callers fall back to a scan — when exactness can't be
    guaranteed from metadata: the snapshot carries any live delete file
    (position/equality masks would make manifest counts an overcount),
    a data file predates a spec that carries ``col`` (its rows can't be
    attributed), or an entry lacks a record count. The scale rationale:
    maintenance loops that size work by partition population should
    read KB of Avro, not scan the table."""
    from .avro_lite import read_avro_file

    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    spec_keys = {
        f.get("name")
        for s in meta.get("partition-specs") or []
        for f in s.get("fields", [])
    }
    if col not in spec_keys:
        raise ValueError(
            f"{col!r} is not a partition field of any spec of this table "
            f"(specs carry {sorted(spec_keys)})"
        )
    if meta.get("current-snapshot-id") in (None, -1):
        return {}
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = read_avro_file(cur["manifest-list"])
    out: dict = {}
    for m in manifests:
        _, entries = read_avro_file(m["manifest_path"])
        live = [e for e in entries if e.get("status") != 2]
        if m.get("content", 0) != 0:
            if live:
                return None  # live delete files: counts would overcount
            continue
        for e in live:
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                return None
            rc = df_rec.get("record_count")
            pv = df_rec.get("partition") or {}
            if rc is None or col not in pv:
                return None
            out[pv[col]] = out.get(pv[col], 0) + int(rc)
    return out


def drop_iceberg_partition(
    path: str,
    partition_values: "dict | list[dict]",
    files: "list[str] | None" = None,
) -> "int | None":
    """METADATA-ONLY partition drop (round 10): commit a ``delete``
    snapshot whose manifest list EXCLUDES the dropped partition's data
    files — untouched manifests travel verbatim, manifests containing a
    matched entry are rewritten without it (surviving entries keep their
    EFFECTIVE data sequence numbers explicitly, the same inheritance
    argument as :func:`rewrite_iceberg_manifests`), and no data file is
    read or rewritten, so the verb is O(partition's manifest entries)
    driver-side Avro regardless of row count — the scale path past
    :func:`write_iceberg_position_deletes`' row cap. Dropped files stay
    reachable through older snapshots for time travel;
    :func:`expire_iceberg_snapshots` reclaims them.

    ``partition_values`` matches the entries' TYPED partition records
    exactly (identity values as stored in manifests, e.g. ``{"cell": 3}``);
    a LIST of dicts drops every matching partition in ONE snapshot
    (batch maintenance sweeps pay one CAS and one manifest-list rewrite,
    not one per partition); files written under a spec that predates a
    filtered field never match (a drop must be exact, never a superset). ``files`` (optional) PINS
    the drop to an explicit path set — only pinned paths are excluded, a
    pinned path live OUTSIDE the partition is refused, and files appended
    to the partition after the caller's pinning snapshot survive (the
    rescue-then-drop loss-free GC primitive; see
    ``operators.ann_index``). Delete manifests are kept verbatim:
    position/equality deletes whose targets left the live set mask
    nothing. Returns the new snapshot id, or None when nothing matched
    (idempotent no-op). Same single-writer / CAS-retry scope as the
    other metadata verbs."""
    from .avro_lite import read_avro_file
    from .readers import _iceberg_local_path

    parts = (
        partition_values
        if isinstance(partition_values, list)
        else [partition_values]
    )
    if any(not pv for pv in parts):
        raise ValueError(
            "empty partition_values would drop the whole table: use "
            "rollback/expire or a full overwrite for that"
        )
    if not parts:
        return None  # nothing requested: idempotent no-op
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to modify an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    spec_keys: set = set()
    for s in meta.get("partition-specs") or []:
        for f in s.get("fields", []):
            spec_keys.add(f.get("name"))
    for pv in parts:
        bad = [k for k in pv if k not in spec_keys]
        if bad:
            raise ValueError(
                f"partition keys {bad} are not partition fields of any "
                f"spec of this table (specs carry {sorted(spec_keys)})"
            )
    pinned = (
        None
        if files is None
        else {_iceberg_local_path(f) for f in files}
    )

    def _matches(entry: dict) -> bool:
        pv = entry["data_file"].get("partition") or {}
        return any(
            all(k in pv and pv[k] == v for k, v in want.items())
            for want in parts
        )

    def rebase(_conflict):
        # the drop re-derives its matches from the winner's head
        nonlocal meta, ver
        meta, ver = _load_meta(meta_dir)

    def attempt(written):
        if meta.get("current-snapshot-id") in (None, -1):
            return None  # no snapshot: nothing to drop
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifests = read_avro_file(cur["manifest-list"])
        now_ms = int(time.time() * 1000)
        snap_id = now_ms * 1000 + (ver + 1)
        seq = meta.get("last-sequence-number", 0) + 1
        keep_rows: list[dict] = []  # original list rows, verbatim
        new_rows: list[tuple[str, int, int]] = []
        dropped: list[str] = []
        stray: list[str] = []
        for m in manifests:
            if m.get("content", 0) != 0:
                keep_rows.append(m)  # delete manifests travel untouched
                continue
            m_seq = m.get("sequence_number", 0)
            m_spec = m.get("partition_spec_id", 0)
            _, entries = read_avro_file(m["manifest_path"])
            live = [e for e in entries if e.get("status") != 2]
            hit, kept = [], []
            for e in live:
                fp = _iceberg_local_path(e["data_file"]["file_path"])
                if _matches(e):
                    if pinned is None or fp in pinned:
                        hit.append(fp)
                        continue
                elif pinned is not None and fp in pinned:
                    stray.append(fp)
                kept.append(e)
            if not hit:
                keep_rows.append(m)
                continue
            dropped += hit
            if kept:
                # surviving entries move to a fresh manifest as
                # EXISTING (status 0 — they are copies, not new adds,
                # so incremental scans skip them) with their effective
                # snapshot ids and sequence numbers written EXPLICITLY
                # (EXISTING entries may not rely on inheritance)
                recs = [
                    {
                        "status": 0,
                        "snapshot_id": (
                            m.get("added_snapshot_id")
                            if e.get("snapshot_id") is None
                            else e["snapshot_id"]
                        ),
                        "sequence_number": (
                            m_seq
                            if e.get("sequence_number") is None
                            else e["sequence_number"]
                        ),
                        "data_file": e["data_file"],
                    }
                    for e in kept
                ]
                mpath = os.path.join(
                    meta_dir, f"m-{snap_id}-drop{len(new_rows)}.avro"
                )
                write_avro_file(
                    mpath, _entry_schema_for_spec(meta, m_spec), recs
                )
                written.append(mpath)
                new_rows.append((mpath, 0, m_spec))
            # else: every live entry dropped — the manifest leaves the list
        if stray:
            remove_quietly(written)
            stray = sorted(set(stray))
            raise ValueError(
                f"pinned files {stray[:3]}{'...' if len(stray) > 3 else ''} "
                f"are live but not in partition {partition_values} — "
                "refusing a drop outside the declared partition"
            )
        if not dropped:
            return None  # nothing live matches: idempotent no-op
        mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        write_avro_file(
            mlist,
            MANIFEST_FILE_SCHEMA,
            keep_rows
            + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": mspec,
                    "content": mcontent,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
                for mpath, mcontent, mspec in new_rows
            ],
        )
        written.append(mlist)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "summary": {
                "operation": "delete",
                "deleted-data-files": str(len(dropped)),
            },
        }
        new_meta = dict(
            meta,
            **{
                "last-sequence-number": seq,
                "last-updated-ms": now_ms,
                "snapshots": meta.get("snapshots", []) + [snapshot],
                "current-snapshot-id": snap_id,
            },
        )
        _commit_metadata(meta_dir, ver, new_meta)
        return snap_id

    return commit_with_retry(attempt, rebase=rebase)


@recompute_on_conflict
def expire_iceberg_snapshots(path: str, keep_last: int = 3) -> int:
    """Snapshot EXPIRATION (the other half of table maintenance next to
    :func:`rewrite_iceberg_table`): keep only the newest ``keep_last``
    snapshots, drop the rest from metadata, and DELETE every file — data,
    delete, manifest, manifest list — referenced exclusively by expired
    snapshots. Returns the number of files removed.

    Time travel to expired snapshots then fails fast ("not found"), like
    any engine after expiration. Driver-side metadata walk (KB-scale);
    file deletion is local-fs here, an object-store batch delete in a
    real deployment. Same single-writer scope as the writers."""
    from .avro_lite import read_avro_file

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to expire snapshots of an Iceberg table created by "
            "another writer: use the iceberg-spark-runtime connector"
        )
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    if len(snaps) <= keep_last:
        return 0
    # ref-pinned snapshots are NEVER expirable (the spec's retention
    # contract for snapshot references): a tag is exactly the "this
    # dataset version must stay reproducible" pin, so it overrides
    # keep_last until the ref is dropped. The CURRENT head is the
    # implicit main ref and pins itself (staged branch snapshots can be
    # newer by sequence — keep_last alone could otherwise drop main).
    # BRANCH refs additionally pin their ancestor chain down to the
    # current head: publish_iceberg_branch's fast-forward walk needs
    # those parent links, so expiring a staged branch's intermediate
    # snapshots would strand an open write-audit-publish cycle.
    pinned = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    pinned.add(meta["current-snapshot-id"])
    by_id = {s["snapshot-id"]: s for s in snaps}
    for r in (meta.get("refs") or {}).values():
        if r.get("type") != "branch":
            continue
        walk = r["snapshot-id"]
        while walk is not None and walk != meta["current-snapshot-id"]:
            pinned.add(walk)
            walk = by_id.get(walk, {}).get("parent-snapshot-id")
    kept = [
        s
        for i, s in enumerate(snaps)
        if i >= len(snaps) - keep_last or s["snapshot-id"] in pinned
    ]
    expired = [s for s in snaps if s not in kept]
    if not expired:
        return 0
    if not any(
        s["snapshot-id"] == meta["current-snapshot-id"] for s in kept
    ):
        raise ValueError("keep_last would expire the current snapshot")

    from .readers import _iceberg_local_path as _local

    def _files_of(snapshot: dict) -> set[str]:
        out = {_local(snapshot["manifest-list"])}
        _, manifests = read_avro_file(_local(snapshot["manifest-list"]))
        for m in manifests:
            mp = _local(m["manifest_path"])
            out.add(mp)
            _, entries = read_avro_file(mp)
            for e in entries:
                out.add(_local(e["data_file"]["file_path"]))
        return out

    keep_refs: set[str] = set()
    for s in kept:
        keep_refs |= _files_of(s)
    # walk ALL expired snapshots BEFORE deleting anything: expired
    # snapshots share manifests (append manifest-lists carry prior
    # manifests forward), so a delete-while-walking would try to read a
    # manifest a previous iteration already removed
    expired_refs: set[str] = set()
    for s in expired:
        expired_refs |= _files_of(s)
    new_meta = dict(
        meta,
        **{
            "snapshots": kept,
            "last-updated-ms": int(time.time() * 1000),
        },
    )
    # COMMIT FIRST, delete after: if the CAS loses, the winner's
    # snapshots still reference every file; a crash after the commit
    # merely leaves unreferenced orphans (safe, re-collectable)
    _commit_metadata(meta_dir, ver, new_meta)
    removed = 0
    for f in expired_refs - keep_refs:
        if os.path.exists(f):
            os.remove(f)
            removed += 1
    return removed


def remove_iceberg_orphan_files(
    path: str, older_than_ms: int = 3 * 24 * 3600 * 1000, dry_run: bool = False
) -> list[str]:
    """ORPHAN-FILE cleanup (the spark connector's ``remove_orphan_files``
    procedure — the third table-maintenance verb next to
    :func:`rewrite_iceberg_table` and :func:`expire_iceberg_snapshots`):
    delete every file under ``data/`` and ``metadata/`` that NO retained
    snapshot references — the debris a crashed or failed commit strands
    (staged data files whose metadata CAS lost, manifests of an append
    that raised after staging).

    ``older_than_ms`` is the same safety valve as Iceberg's
    ``older_than`` (default 3 days): a file younger than the cutoff is
    NEVER removed, because it may belong to a commit currently in
    flight — a concurrent writer stages data files BEFORE its metadata
    commit makes them referenced, and deleting those mid-commit corrupts
    the winner. Set 0 only when no other writer can be active.

    ``dry_run=True`` reports without deleting. Returns the orphan paths
    (removed, or would-remove under dry_run). Driver-side KB-scale
    manifest walk; version metadata jsons are the log itself and are
    never candidates."""
    from .avro_lite import read_avro_file
    from .readers import _iceberg_local_path as _local

    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    meta, _ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to clean an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    referenced: set[str] = set()
    for s in meta.get("snapshots") or []:
        ml = _local(s["manifest-list"])
        referenced.add(os.path.realpath(ml))
        _, manifests = read_avro_file(ml)
        for m in manifests:
            mp = _local(m["manifest_path"])
            referenced.add(os.path.realpath(mp))
            _, entries = read_avro_file(mp)
            for e in entries:
                referenced.add(
                    os.path.realpath(_local(e["data_file"]["file_path"]))
                )
    cutoff = time.time() - older_than_ms / 1000.0
    orphans: list[str] = []
    for root in (data_dir, meta_dir):
        if not os.path.isdir(root):
            continue
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.endswith(".metadata.json") or fn == "version-hint.text":
                    continue  # the version log / pointer — never orphans
                full = os.path.join(dirpath, fn)
                if os.path.realpath(full) in referenced:
                    continue
                if os.path.getmtime(full) >= cutoff:
                    continue  # possibly a commit in flight
                orphans.append(full)
    if not dry_run:
        for f in orphans:
            os.remove(f)
    return sorted(orphans)


def rollback_iceberg_table(path: str, snapshot_id: int) -> int:
    """ROLLBACK the table's current state to an existing snapshot (the
    Iceberg ``rollback_to_snapshot`` maintenance procedure): a new
    metadata version whose ``current-snapshot-id`` points at
    ``snapshot_id``. The snapshot list is untouched — the rolled-back
    snapshots stay reachable for time travel (and for expiration to
    clean up later), matching the spec's semantics exactly: rollback
    moves the pointer, it never rewrites history. Schema is NOT
    reverted (same as Iceberg — the current schema keeps reading old
    data files by field id). Zero data movement, one KB-scale CAS
    commit; raises if the snapshot does not exist (e.g. already
    expired) or is already current."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir, allow_v3=True)  # pointer-only verb
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to roll back an Iceberg table created by another "
            "writer: use the iceberg-spark-runtime connector"
        )
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
    ):
        raise ValueError(
            f"snapshot {snapshot_id} does not exist (expired or never "
            "committed)"
        )
    if meta.get("current-snapshot-id") == snapshot_id:
        raise ValueError(f"snapshot {snapshot_id} is already current")
    new_meta = dict(
        meta,
        **{
            "current-snapshot-id": snapshot_id,
            "last-updated-ms": int(time.time() * 1000),
        },
    )
    _commit_metadata(meta_dir, ver, new_meta)
    return snapshot_id


@recompute_on_conflict
def tag_iceberg_snapshot(
    path: str, name: str, snapshot_id: int | None = None
) -> int:
    """Create a named TAG ref on a snapshot (default: current) — the
    spec's table-metadata ``refs`` map (iceberg.apache.org/spec/
    "Snapshot References"), the reproducibility primitive a training
    pipeline uses to pin "the exact corpus snapshot model X trained on".
    A tagged snapshot SURVIVES :func:`expire_iceberg_snapshots` until
    the tag is dropped (the spec's retention contract for refs), so the
    pin is durable against routine maintenance. One KB-scale CAS commit;
    re-tagging an existing name fails fast (drop first — silent moves
    would un-pin someone else's dataset), as does tagging a snapshot
    that does not exist. Returns the pinned snapshot id."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir, allow_v3=True)  # pointer-only verb
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to tag an Iceberg table created by another writer: "
            "use the iceberg-spark-runtime connector"
        )
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
    ):
        raise ValueError(
            f"snapshot {snapshot_id} does not exist (expired or never "
            "committed)"
        )
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise ValueError(
            f"ref {name!r} already exists (on snapshot "
            f"{refs[name]['snapshot-id']}); drop it first"
        )
    refs[name] = {"snapshot-id": snapshot_id, "type": "tag"}
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            refs=refs,
            **{"last-updated-ms": int(time.time() * 1000)},
        ),
    )
    return snapshot_id


_NAME_MAPPING_PROP = "schema.name-mapping.default"


def _load_name_mapping(meta: dict | None) -> list[dict]:
    """The table's name mapping (spec: ``schema.name-mapping.default``
    property, a JSON list of ``{"field-id": N, "names": [...]}``): maps
    the column NAMES data files were written under to field ids. Our
    writer stamps no parquet field ids (plain ``df.write.parquet``), so
    this mapping is what makes column RENAME readable across files
    written before the rename."""
    raw = ((meta or {}).get("properties") or {}).get(_NAME_MAPPING_PROP)
    return json.loads(raw) if raw else []


@recompute_on_conflict
def rename_iceberg_column(path: str, old: str, new: str) -> int:
    """RENAME a column — metadata-only, one KB-scale CAS commit (spec
    "Schema Evolution": ids are forever, names are labels). The current
    schema's field keeps its id under the new name, and the old name is
    recorded in the ``schema.name-mapping.default`` property so the scan
    resolves files written under EITHER name (readers.py
    ``_iceberg_scan_schema``: union read schema + per-field coalesce —
    a file carries exactly one of the names, so the coalesce picks the
    populated one; zone-map bounds and equality-ids are keyed by field
    id and never notice).

    Partition-spec SOURCE columns rename fine: the spec references the
    source by field id, spec FIELD names (``partition_filter`` keys and
    manifest partition records) never change, and both the write-side
    transform computation and ``scan_filter`` transform pruning resolve
    the source through the CURRENT schema. Refused: a ``new`` name that
    collides with any current column or any HISTORICAL name in the
    mapping (without file-level field ids a reused name would make old
    files ambiguous). Returns the new schema-id."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to rename a column on an Iceberg table created by "
            "another writer: use the iceberg-spark-runtime connector"
        )
    schemas = meta.get("schemas") or []
    if not schemas:
        raise ValueError("table has no field-id schema")
    fields = [dict(f) for f in schemas[0]["fields"]]
    by_name = {f["name"]: f for f in fields}
    if old not in by_name:
        raise ValueError(
            f"column {old!r} does not exist; schema has "
            f"{sorted(by_name)}"
        )
    fid = by_name[old]["id"]
    mapping = _load_name_mapping(meta)
    hist: dict[str, int] = {}
    for m in mapping:
        for n in m.get("names", []):
            hist[n] = m["field-id"]
    if new in by_name or hist.get(new, fid) != fid:
        raise ValueError(
            f"name {new!r} is already used by another column (current "
            "or historical): reusing names over files without field ids "
            "would make old data ambiguous"
        )
    # renaming a partition SOURCE is fine (round 6): the spec references
    # the column by source-id, spec FIELD names (partition_filter keys,
    # manifest partition records) never change, and both the write-side
    # transform computation and scan_filter transform pruning resolve the
    # source through the CURRENT schema by id
    by_name[old]["name"] = new
    entry = next((m for m in mapping if m["field-id"] == fid), None)
    if entry is None:
        entry = {"field-id": fid, "names": []}
        mapping.append(entry)
    for n in (old, new):
        if n not in entry["names"]:
            entry["names"].append(n)  # oldest → newest; current is last
    new_schema = dict(
        schemas[0],
        fields=fields,
        **{"schema-id": int(schemas[0].get("schema-id", 0)) + 1},
    )
    props = dict(meta.get("properties") or {})
    props[_NAME_MAPPING_PROP] = json.dumps(mapping)
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            schemas=[new_schema],
            **{
                "current-schema-id": new_schema["schema-id"],
                "properties": props,
                "last-updated-ms": int(time.time() * 1000),
            },
        ),
    )
    return new_schema["schema-id"]


@recompute_on_conflict
def drop_iceberg_column(path: str, name: str) -> int:
    """DROP a column — metadata-only, one KB-scale CAS commit (spec
    "Schema Evolution"): the field leaves the CURRENT schema; data files
    keep the physical column — the explicit read schema simply stops
    projecting it. (This reader scans every snapshot with the CURRENT
    schema, so time travel also stops surfacing the dropped column —
    documented divergence from connectors that resolve the snapshot's
    own schema-id; the bytes stay in the files either way.) Every name
    the field ever had stays reserved in the name
    mapping: without file-level field ids, re-adding a column under a
    dropped name would resurface the dropped field's old values under
    the new column — refused at evolve/rename time exactly like renamed
    names. Refused: partition-spec sources, the last remaining column.
    Returns the new schema-id."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to drop a column on an Iceberg table created by "
            "another writer: use the iceberg-spark-runtime connector"
        )
    schemas = meta.get("schemas") or []
    if not schemas:
        raise ValueError("table has no field-id schema")
    fields = [dict(f) for f in schemas[0]["fields"]]
    by_name = {f["name"]: f for f in fields}
    if name not in by_name:
        raise ValueError(
            f"column {name!r} does not exist; schema has {sorted(by_name)}"
        )
    if len(fields) == 1:
        raise ValueError("cannot drop the last remaining column")
    fid = by_name[name]["id"]
    for spec in meta.get("partition-specs") or []:
        if any(pf.get("source-id") == fid for pf in spec.get("fields", [])):
            raise NotImplementedError(
                f"column {name!r} is a partition-spec source: drop of "
                "partition sources is not supported"
            )
    if meta.get("current-snapshot-id") is not None:
        # a live equality-delete file keyed on this field would make the
        # table unreadable (its ids resolve against the CURRENT schema):
        # compact first, then drop
        from .readers import _iceberg_snapshot_files

        _d, _p, eq_deletes, _s = _iceberg_snapshot_files(path)
        if any(name in cols for _f, _q, cols in eq_deletes):
            raise ValueError(
                f"column {name!r} is an equality-delete key of a live "
                "delete file: rewrite_iceberg_table (compaction folds "
                "the deletes away) before dropping it"
            )
    mapping = _load_name_mapping(meta)
    entry = next((m for m in mapping if m["field-id"] == fid), None)
    if entry is None:
        entry = {"field-id": fid, "names": []}
        mapping.append(entry)
    if name not in entry["names"]:
        entry["names"].append(name)  # reserve forever (see docstring)
    new_schema = dict(
        schemas[0],
        fields=[f for f in fields if f["id"] != fid],
        **{"schema-id": int(schemas[0].get("schema-id", 0)) + 1},
    )
    props = dict(meta.get("properties") or {})
    props[_NAME_MAPPING_PROP] = json.dumps(mapping)
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            schemas=[new_schema],
            **{
                "current-schema-id": new_schema["schema-id"],
                "properties": props,
                "last-updated-ms": int(time.time() * 1000),
            },
        ),
    )
    return new_schema["schema-id"]


@recompute_on_conflict
def update_iceberg_partition_spec(
    path: str, partition_by: "tuple[str, ...]"
) -> int:
    """PARTITION SPEC EVOLUTION — metadata-only, one KB-scale CAS commit
    (spec "Partition Evolution"): append a NEW spec built from
    ``partition_by`` (same grammar as ``write_iceberg_append``: identity
    column names, ``bucket(N, col)``, ``truncate(W, col)``,
    ``year/month/day/hour(col)``; an EMPTY tuple evolves to
    unpartitioned) and make it the default. Zero data files move: old
    files keep their old spec's partition records (their manifest-list
    rows keep the old spec id), new appends/merges/updates/compactions
    fan out and stamp manifests under the NEW spec, and reads combine
    both generations —

    - scans are complete either way (Iceberg data files CONTAIN their
      partition source columns, unlike Hive layout);
    - ``scan_filter`` transform pruning evaluates each file against the
      partition fields its record actually carries (a file from a spec
      without the transform is conservatively kept and the row filter
      does the work) — this is the 100 TB migration story: evolve
      day→(day, hour) and new data prunes at hour granularity
      immediately while old data keeps day-level pruning until the next
      full ``rewrite_iceberg_table`` re-partitions it;
    - ``partition_filter`` (exact spec-field match) keeps files that
      predate the field — a conservative SUPERSET on evolved tables;
      exact slices come from ``scan_filter``/row predicates.

    Partition field ids are table-unique and (source-id, transform)
    pairs REUSE their earlier field-id and name (spec recommendation),
    so an evolved-then-reverted spec round-trips; reusing a FIELD NAME
    with a different meaning is refused (it would poison the per-name
    conservative pruning). Maintenance stays INCREMENTAL after an
    evolution (round 8): ``rewrite_iceberg_manifests`` consolidates and
    ``rewrite_iceberg_table(min_files_per_partition=...)`` bin-packs
    PER SPEC GROUP — entries merge only within their own spec, each
    output manifest stamped with its group's spec id — so an evolution
    never forces a table-scale migration before small-file maintenance
    can resume; the full rewrite remains the way to RE-PARTITION old
    data under the current spec. Returns the new default spec id
    (current id when the requested spec is already the default — no
    empty commit)."""
    from .iceberg_transforms import parse_partition_by, resolve_part_field

    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to evolve the partition spec of an Iceberg table "
            "created by another writer: use the iceberg-spark-runtime "
            "connector"
        )
    schemas = meta.get("schemas") or []
    if not schemas:
        raise NotImplementedError(
            "partition evolution needs a field-id schema and this table "
            "was created without one (complex-typed columns)"
        )
    by_name = {f["name"]: f for f in schemas[0]["fields"]}
    specs = list(meta.get("partition-specs") or [])
    if not specs:
        # implicit unpartitioned spec 0 of a table created without
        # partition_by — materialize it so list position == spec-id
        specs = [{"spec-id": 0, "fields": []}]
    if any(s.get("spec-id") != i for i, s in enumerate(specs)):
        raise NotImplementedError(
            "partition-specs list is not positionally indexed by spec-id "
            "(foreign metadata layout): use the iceberg-spark-runtime "
            "connector"
        )
    by_key: dict[tuple, tuple[int, str]] = {}
    by_pname: dict[str, tuple] = {}
    max_fid = 999
    for s in specs:
        for f in s.get("fields", []):
            key = (f.get("source-id"), f.get("transform", "identity"))
            by_key[key] = (f["field-id"], f["name"])
            by_pname[f["name"]] = key
            max_fid = max(max_fid, f["field-id"])
    new_fields: list[dict] = []
    seen = set()
    for item in partition_by:
        kind, col, param = parse_partition_by(item)
        src = by_name.get(col)
        if src is None:
            raise ValueError(
                f"partition column {col!r} not in the schema "
                f"{sorted(by_name)}"
            )
        if not isinstance(src["type"], str):
            raise NotImplementedError(
                f"partitioning on complex-typed column {col!r} "
                f"({src['type']!r}) is unsupported"
            )
        pf = resolve_part_field(kind, col, param, src["type"])
        if pf.value_type not in _PARTITION_AVRO_TYPES:
            raise NotImplementedError(
                f"{kind} partitioning on type {src['type']!r} unsupported"
            )
        key = (src["id"], pf.transform)
        if key in by_key:
            fid, name = by_key[key]
        else:
            if pf.name in by_pname and by_pname[pf.name] != key:
                raise ValueError(
                    f"partition field name {pf.name!r} was already used "
                    "by an earlier spec with a different source/transform "
                    "— reusing it would make per-name pruning ambiguous"
                )
            max_fid += 1
            fid, name = max_fid, pf.name
        if name in seen:
            raise ValueError(f"duplicate partition field {name!r}")
        seen.add(name)
        new_fields.append(
            {
                "name": name,
                "transform": pf.transform,
                "source-id": src["id"],
                "field-id": fid,
            }
        )
    cur_id = meta.get("default-spec-id", 0) if meta.get(
        "partition-specs"
    ) else 0
    if specs[cur_id].get("fields", []) == new_fields:
        return cur_id  # already the default — no empty commit
    new_spec = {"spec-id": len(specs), "fields": new_fields}
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            **{
                "partition-specs": specs + [new_spec],
                "default-spec-id": new_spec["spec-id"],
                "last-partition-id": max_fid,
                "last-updated-ms": int(time.time() * 1000),
            },
        ),
    )
    return new_spec["spec-id"]


@recompute_on_conflict
def move_iceberg_ref(path: str, name: str, snapshot_id: int) -> int:
    """Create-or-move a TAG ref to ``snapshot_id`` in ONE metadata
    commit — the refs-map entry is replaced atomically, so there is no
    instant where the name exists unpinned or not at all. This is the
    primitive a consumer-offset pin needs (round-5 advisor: a
    drop-then-tag pair leaves a crash window where
    ``expire_iceberg_snapshots`` can expire the offset snapshot — the
    exact stranding the pin exists to prevent). Refuses to move a
    BRANCH ref (that is :func:`publish_iceberg_branch`'s job, with its
    fast-forward ancestry check). Returns ``snapshot_id``."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir, allow_v3=True)  # pointer-only verb
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    if meta.get("properties", {}).get("writer") != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to move a ref on an Iceberg table created by "
            "another writer: use the iceberg-spark-runtime connector"
        )
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
    ):
        raise ValueError(
            f"snapshot {snapshot_id} does not exist (expired or never "
            "committed)"
        )
    refs = dict(meta.get("refs") or {})
    if name in refs and refs[name].get("type") != "tag":
        raise ValueError(
            f"ref {name!r} is a {refs[name].get('type')}, not a tag: "
            "use publish_iceberg_branch to advance branches"
        )
    refs[name] = {"snapshot-id": int(snapshot_id), "type": "tag"}
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            refs=refs,
            **{"last-updated-ms": int(time.time() * 1000)},
        ),
    )
    return int(snapshot_id)


@recompute_on_conflict
def drop_iceberg_ref(path: str, name: str) -> int:
    """Remove a named ref; the snapshot it pinned becomes expirable
    again. Returns the snapshot id the ref pointed at."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir, allow_v3=True)  # pointer-only verb
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"ref {name!r} does not exist")
    pinned = refs.pop(name)["snapshot-id"]
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            refs=refs,
            **{"last-updated-ms": int(time.time() * 1000)},
        ),
    )
    return pinned


@recompute_on_conflict
def publish_iceberg_branch(path: str, name: str, drop: bool = True) -> int:
    """WRITE-AUDIT-PUBLISH, the publish step (Iceberg's
    ``fast_forward`` procedure): move the table head to the branch head
    after the staged data passed its audit. FAST-FORWARD ONLY — the walk
    from the branch head down ``parent-snapshot-id`` must reach the
    current table head; if the main line advanced independently the
    histories have diverged and this fails fast (a real engine's
    cherry-pick is the escalation path). ``drop`` removes the branch ref
    after publishing (its snapshots are now on the main line). One
    KB-scale CAS commit; returns the published snapshot id.

    The WAP loop this completes: ``write_iceberg_append(...,
    branch="audit")`` stages commits invisible to main readers →
    audit queries read ``ref="audit"`` → publish or drop."""
    meta_dir = os.path.join(path, "metadata")
    meta, ver = _load_meta(meta_dir, allow_v3=True)  # pointer-only verb
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    refs = dict(meta.get("refs") or {})
    ref = refs.get(name)
    if ref is None or ref.get("type") != "branch":
        raise ValueError(f"branch {name!r} does not exist")
    head = ref["snapshot-id"]
    cur = meta.get("current-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    walk = head
    while walk is not None and walk != cur:
        walk = by_id.get(walk, {}).get("parent-snapshot-id")
    if walk != cur:
        raise ValueError(
            f"branch {name!r} does not descend from the current table "
            f"head {cur} (main advanced since the branch forked): "
            "re-stage on a fresh branch or cherry-pick with a real engine"
        )
    if drop:
        refs.pop(name)
    _commit_metadata(
        meta_dir,
        ver,
        dict(
            meta,
            refs=refs,
            **{
                "current-snapshot-id": head,
                "last-updated-ms": int(time.time() * 1000),
            },
        ),
    )
    return head


def resolve_iceberg_ref(path: str, name: str) -> int:
    """Ref name → snapshot id (the read-side half of the refs map).
    ``"main"`` always resolves — to its ref entry if one exists, else to
    ``current-snapshot-id`` (the spec makes main implicit when absent)."""
    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    refs = meta.get("refs") or {}
    if name in refs:
        return refs[name]["snapshot-id"]
    if name == "main":
        cur = meta.get("current-snapshot-id")
        if cur is None:
            raise ValueError("table has no snapshots yet")
        return cur
    raise ValueError(f"ref {name!r} does not exist")


def iceberg_refs(spark, path: str) -> "DataFrame":
    """The connector's ``refs`` metadata table: one row per named ref
    (name, type, pinned snapshot id) plus the implicit ``main`` head when
    no explicit main ref exists. KB-scale driver-side metadata read."""
    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    refs = dict(meta.get("refs") or {})
    if "main" not in refs and meta.get("current-snapshot-id") is not None:
        refs["main"] = {
            "snapshot-id": meta["current-snapshot-id"],
            "type": "branch",
        }
    rows = [
        (n, r["type"], r["snapshot-id"]) for n, r in sorted(refs.items())
    ]
    return spark.createDataFrame(
        rows, "name string, type string, snapshot_id long"
    )


def read_iceberg_incremental(
    spark, path: str, from_snapshot_id: int, to_snapshot_id: int | None = None
) -> "DataFrame":
    """INCREMENTAL APPEND SCAN: the rows added strictly AFTER
    ``from_snapshot_id`` up to ``to_snapshot_id`` (default: current) —
    Iceberg's incremental-consumption primitive (the spark connector's
    ``start-snapshot-id``/``end-snapshot-id`` read). The new rows are
    exactly the data files present in TO but not FROM, so I/O is
    proportional to the appended data only — this is what lets a
    downstream pipeline (e.g. the q127 ingest gate) consume a 100 TB
    table's daily delta without rescanning the table.

    Append-only contract, enforced: if ANY snapshot in the range is not
    an ``append`` (delete/replace — compaction included), the row-level
    delta is not expressible as "new files" and this fails fast toward a
    full snapshot diff; the same applies if the range's new files carry
    delete files in TO (deleted rows would need masking that FROM can't
    see)."""
    from .readers import _iceberg_snapshot_files

    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id not in snaps:
        raise ValueError(f"snapshot {from_snapshot_id} does not exist")
    if to_snapshot_id is None:
        to_snapshot_id = meta["current-snapshot-id"]
    if to_snapshot_id not in snaps:
        raise ValueError(f"snapshot {to_snapshot_id} does not exist")
    seq_from = snaps[from_snapshot_id]["sequence-number"]
    seq_to = snaps[to_snapshot_id]["sequence-number"]
    if seq_from >= seq_to:
        raise ValueError(
            f"from_snapshot {from_snapshot_id} must precede "
            f"to_snapshot {to_snapshot_id}"
        )
    non_append = sorted(
        s["snapshot-id"]
        for s in snaps.values()
        if seq_from < s["sequence-number"] <= seq_to
        and (s.get("summary") or {}).get("operation") != "append"
    )
    if non_append:
        raise NotImplementedError(
            f"snapshots {non_append} in the range are not appends "
            "(delete/replace): an incremental append scan cannot express "
            "their row-level changes — diff full snapshots instead"
        )
    files_from, _pd, _eq, _s = _iceberg_snapshot_files(
        path, snapshot_id=from_snapshot_id
    )
    files_to, _pd2, _eq2, _s2 = _iceberg_snapshot_files(
        path, snapshot_id=to_snapshot_id
    )
    old_paths = {e.path for e in files_from}
    new_entries = [e for e in files_to if e.path not in old_paths]
    if not new_entries:
        raise ValueError(
            f"no rows appended between snapshots {from_snapshot_id} and "
            f"{to_snapshot_id}"
        )
    # delete files can only enter via non-append snapshots, which the gate
    # above refused inside the range; deletes committed BEFORE the range
    # can't target the range's new files (the spec's sequence-number rule:
    # deletes apply to files with a STRICTLY LOWER data sequence number),
    # so applying the TO snapshot's deletes below is a no-op on new files.
    # reuse the ordinary reader's scan machinery (declared-schema scan,
    # avro/parquet union, delete application) pinned to the TO snapshot,
    # then keep only the new files' rows via the normalized __fp
    # coordinate the live scan already carries
    from pyspark.sql import functions as F

    from .readers import _iceberg_live_scan

    full = _iceberg_live_scan(
        spark, path, snapshot_id=to_snapshot_id, keep_coords=True
    )
    new_abs = sorted({os.path.abspath(e.path) for e in new_entries})
    return full.filter(F.col("__fp").isin(new_abs)).drop("__fp", "__pos")


def iceberg_snapshot_diff(
    spark, path: str, from_snapshot_id: int, to_snapshot_id: int | None = None
) -> "DataFrame":
    """ROW-LEVEL DIFF between two snapshots, valid for ANY operation mix
    (the fallback :func:`read_iceberg_incremental` points at when the
    range contains deletes/compactions): rows only in TO tag
    ``_change_type='insert'``, rows only in FROM tag ``'delete'``,
    multiplicity-aware (``exceptAll`` both ways, so a pure compaction
    diffs empty). Unlike the incremental append scan this shuffles BOTH
    snapshots' live rows — it is the honest full-diff cost, used when
    the log's file-level delta can't express the change."""
    from pyspark.sql import functions as F

    from .readers import read_iceberg_snapshot

    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if to_snapshot_id is None:
        to_snapshot_id = meta["current-snapshot-id"]
    for sid in (from_snapshot_id, to_snapshot_id):
        if sid not in snaps:
            raise ValueError(f"snapshot {sid} does not exist")
    old = read_iceberg_snapshot(spark, path, snapshot_id=from_snapshot_id)
    new = read_iceberg_snapshot(spark, path, snapshot_id=to_snapshot_id)
    cols = new.columns
    ins = new.exceptAll(old.select(*cols)).select(
        *cols, F.lit("insert").alias("_change_type")
    )
    dels = old.select(*cols).exceptAll(new).select(
        *cols, F.lit("delete").alias("_change_type")
    )
    return ins.unionByName(dels)


def iceberg_snapshots(spark, path: str) -> "DataFrame":
    """Snapshot history as a DataFrame — the operational surface the
    iceberg-spark connector exposes as the ``snapshots``/``manifests``
    metadata tables: one row per snapshot with its operation, sequence
    number, and LIVE file/record/delete-file counts resolved from its
    manifest list (KB-scale driver-side Avro walk, bounded
    createDataFrame; the data files themselves are never touched)."""
    from .avro_lite import read_avro_file

    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    rows = []
    for s in meta.get("snapshots") or []:
        n_files = n_records = n_deletes = 0
        _sch, manifests = read_avro_file(s["manifest-list"])
        for m in manifests:
            _es, entries = read_avro_file(m["manifest_path"])
            for e in entries:
                if e.get("status") == 2:
                    continue
                rec = e["data_file"]
                if rec.get("content", 0) == 0:
                    n_files += 1
                    n_records += rec.get("record_count") or 0
                else:
                    n_deletes += 1
        summ = s.get("summary") or {}
        rows.append(
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s.get("sequence-number", 0),
                s.get("timestamp-ms"),
                summ.get("operation"),
                summ.get("txn-app"),
                int(summ["txn-version"]) if "txn-version" in summ else None,
                len(manifests),
                n_files,
                n_records,
                n_deletes,
                s["snapshot-id"] == meta.get("current-snapshot-id"),
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_snapshot_id long, sequence_number long, "
        "timestamp_ms long, operation string, txn_app string, "
        "txn_version long, n_manifests long, n_data_files long, "
        "n_records long, n_delete_files long, is_current boolean",
    )


def iceberg_files(spark, path: str, snapshot_id: int | None = None) -> "DataFrame":
    """The connector's ``files`` metadata table: one row per LIVE data
    file of the chosen snapshot — path, format, record count, size,
    partition record (JSON string, stable across specs), and whether
    column bounds are present. Driver-side KB-scale manifest walk via the
    shared snapshot resolver; the data files are never opened. The
    operational use is the compaction decision: small-file counts and
    per-partition fragmentation come straight off this table."""
    from .readers import _iceberg_snapshot_files

    data_files, _pos, _eq, snap = _iceberg_snapshot_files(
        path, snapshot_id=snapshot_id
    )
    rows = []
    for e in data_files:
        size = None
        try:
            size = os.path.getsize(e.path)
        except OSError:
            pass
        rows.append(
            (
                e.path,
                e.fmt,
                json.dumps(e.partition, sort_keys=True)
                if e.partition
                else None,
                e.seq,
                size,
                bool(e.lower),
                e.spec_id,
            )
        )
    return spark.createDataFrame(
        rows,
        "file_path string, file_format string, partition string, "
        "sequence_number long, file_size_bytes long, has_bounds boolean, "
        "spec_id int",
    )


def iceberg_partition_specs(spark, path: str) -> "DataFrame":
    """The connector's ``partition-specs`` view: one row per spec FIELD
    across every spec the table ever had — the observability side of
    :func:`update_iceberg_partition_spec` (which files organize how
    shows up by joining ``iceberg_files().spec_id`` against this).
    Driver-side metadata read."""
    meta_dir = os.path.join(path, "metadata")
    meta, _ver = _load_meta(meta_dir, allow_v3=True)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg table at {path}")
    schemas = meta.get("schemas") or []
    by_id = (
        {f["id"]: f["name"] for f in schemas[0]["fields"]} if schemas else {}
    )
    default = _default_spec_id(meta)
    rows = []
    for s in meta.get("partition-specs") or [{"spec-id": 0, "fields": []}]:
        sid = s.get("spec-id", 0)
        fields = s.get("fields", [])
        if not fields:
            rows.append((sid, sid == default, None, None, None, None))
        for f in fields:
            rows.append(
                (
                    sid,
                    sid == default,
                    f.get("name"),
                    f.get("transform", "identity"),
                    by_id.get(f.get("source-id")),
                    f.get("field-id"),
                )
            )
    return spark.createDataFrame(
        rows,
        "spec_id int, is_default boolean, field string, transform string, "
        "source_column string, field_id int",
    )


def iceberg_partitions(spark, path: str, snapshot_id: int | None = None) -> "DataFrame":
    """The connector's ``partitions`` metadata table: live file and byte
    counts grouped by partition record — the fragmentation/skew view
    that drives `rewrite_iceberg_table(min_files_per_partition=...)`
    and bucket-width choices (a hot bucket shows up here before it
    shows up as a straggler task)."""
    files = iceberg_files(spark, path, snapshot_id=snapshot_id)
    from pyspark.sql import functions as F

    return (
        files.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_size_bytes").alias("total_bytes"),
            F.min("sequence_number").alias("min_sequence"),
            F.max("sequence_number").alias("max_sequence"),
        )
        .orderBy("partition")
    )
