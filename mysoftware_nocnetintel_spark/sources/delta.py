"""Minimal Delta Lake writer (companion to
``readers.read_delta_snapshot``), built on the PUBLIC Delta transaction-log
protocol (delta.io PROTOCOL.md). Honestly scoped and fail-fast, mirroring
the Iceberg writer's posture:

- APPEND (plus partitioned create), atomic OVERWRITE (copy-on-write),
  merge-on-read DELETE via deletion vectors (``delete_delta_rows``),
  copy-on-write MERGE/upsert (``merge_delta_rows``) and UPDATE
  (``update_delta_rows``) that rewrite only the files containing matched
  rows; parquet data files; protocol (1, 2), upgraded to (3, 7) with the
  ``deletionVectors`` feature on first DV commit;
- classic single-file parquet CHECKPOINTS (``checkpoint_delta_table`` +
  ``cleanup_delta_log``): every writer replays checkpoint-seeded state,
  so log replay stays O(tail) as history grows; foreign checkpoint
  layouts (multi-part, v2) are refused;
- commits are filesystem-CAS: put-if-absent creation of
  ``<version>.json`` via ``os.link`` (the spec's log-store contract on a
  POSIX filesystem); a lost race raises :class:`DeltaCommitConflict`.
  Appends, validated data verbs and recomputable maintenance retry
  through the shared protocol in ``sources/commit.py``. Object stores
  without atomic link still need a real log store — that remains the
  delta-spark production path;
- refuses to write to tables it didn't create (unknown protocol/features
  could be silently violated) and to tables whose schema doesn't match.

The COMMIT is driver-side KB-scale JSON; the data write itself is a
normal distributed ``df.write.parquet``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from glob import glob

from pyspark.sql import DataFrame

from .commit import (
    APPEND_ATTEMPTS,
    CommitConflict,
    commit_with_retry,
    recompute_on_conflict,
)

_WRITER_TAG = "mysoftware-nocnetintel-spark-minimal"


def _log_versions(log_dir: str) -> list[int]:
    return sorted(
        int(os.path.basename(p).split(".")[0])
        for p in glob(os.path.join(log_dir, "[0-9]*.json"))
        if "checkpoint" not in os.path.basename(p)
    )


def _coordinator_tail(log_dir: str) -> "dict[int, bytes]":
    """UN-BACKFILLED coordinated commits for this log (PROTOCOL.md
    "Coordinated Commits" ``getCommits`` — round 11): ``{}`` unless the
    process committer implements the coordinator read API
    (``get_commits``; :class:`~.catalog.InProcessCommitCoordinator` is
    the reference). Readers and the writer-state replay merge these
    over the backfilled ``<v>.json`` prefix, so a lazily-backfilling
    coordinator's commits are visible to THIS process immediately; a
    process without the coordinator sees the backfilled prefix — a
    consistent, merely older snapshot (the spec's allowed staleness).
    delta_history / CDF / the streaming tailer / log cleanup stay
    backfilled-prefix views by design (maintenance of un-backfilled
    versions is the coordinator's job, not the log walker's)."""
    from .catalog import get_committer

    fn = getattr(get_committer(), "get_commits", None)
    if fn is None:
        return {}
    return fn(os.path.abspath(log_dir))


def _checkpoint_version(log_dir: str) -> int | None:
    """Version of the writer-maintained classic checkpoint, or None."""
    lc = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc):
        return None
    with open(lc) as fh:
        meta = json.loads(fh.read() or "{}")
    v = meta.get("version")
    if v is None:
        raise NotImplementedError(
            "malformed _last_checkpoint (no version): use the delta-spark "
            "connector"
        )
    return int(v)


def _replay_state(log_dir: str, as_of: int | None = None) -> dict:
    """Full writer-visible table state: the classic checkpoint (if one
    exists — this writer only ever maintains single-file classic
    checkpoints, see :func:`checkpoint_delta_table`) seeded first, then
    every JSON commit ABOVE it replayed in order. ``as_of`` stops the
    replay at that version (time-travel state, for RESTORE); a
    checkpoint ABOVE ``as_of`` is skipped, which requires the JSON tail
    from version 0 to still exist (refused otherwise — the cleaned-up
    history can't be reconstructed). Returns::

        {"version": latest committed version,
         "meta": latest metaData action or None,
         "live": {path: add action dict (deletionVector included)},
         "tombstones": {path: deletionTimestamp_ms},
         "txns": {appId: highest version},
         "dv_protocol": bool (deletionVectors reader feature present)}

    Driver-side metadata walk (KB/MB scale). JSON commits at or below
    the checkpoint version may have been removed by
    :func:`cleanup_delta_log`; the checkpoint carries everything the
    writer needs (live adds, un-vacuumed remove tombstones, latest txn
    per app, protocol, metaData), so state is complete either way."""
    import pyarrow.parquet as _pq

    state = {
        "version": None,
        "meta": None,
        "protocol": None,
        "live": {},
        "tombstones": {},
        "txns": {},
        "dv_protocol": False,
    }

    def _fold(act: dict) -> None:
        if act.get("protocol"):
            state["protocol"] = act["protocol"]
            state["dv_protocol"] = "deletionVectors" in (
                act["protocol"].get("readerFeatures") or []
            )
        if act.get("metaData"):
            m = act["metaData"]
            # a metaData row decoded from a PARQUET checkpoint delivers
            # pyarrow maps as [(key, value)] tuples — normalize so the
            # writer gates (.get("writer"), partitionColumns) keep working
            if isinstance(m.get("configuration"), list):
                m = dict(m, configuration=dict(m["configuration"]))
            fmt = m.get("format")
            if fmt and isinstance(fmt.get("options"), list):
                m = dict(m, format=dict(fmt, options=dict(fmt["options"])))
            state["meta"] = m
        t = act.get("txn")
        if t and t.get("appId") is not None and t.get("version") is not None:
            prev = state["txns"].get(t["appId"])
            tv = int(t["version"])
            if prev is None or tv > prev:
                state["txns"][t["appId"]] = tv
        add = act.get("add")
        if add and add.get("path"):
            dv = add.get("deletionVector")
            if dv is not None and not dv.get("storageType"):
                add = dict(add, deletionVector=None)
            pv = add.get("partitionValues")
            if pv is not None and not isinstance(pv, dict):
                add = dict(add, partitionValues=dict(pv))
            state["live"][add["path"]] = add
            state["tombstones"].pop(add["path"], None)
        rm = act.get("remove")
        if rm and rm.get("path"):
            state["live"].pop(rm["path"], None)
            state["tombstones"][rm["path"]] = rm.get("deletionTimestamp") or 0

    # coordinated tables (round 11): fetch the tail BEFORE listing the
    # backfilled files — a concurrent backfill can move a version from
    # the tail to a <v>.json between the two reads, and in this order
    # the migrating version shows up in BOTH sources (deduped below)
    # instead of in NEITHER (a torn replay missing a middle commit)
    tail = _coordinator_tail(log_dir)
    cp_v = _checkpoint_version(log_dir)
    if cp_v is not None and as_of is not None and cp_v > as_of:
        # replay must start from scratch below the checkpoint
        if 0 not in _log_versions(log_dir):
            raise NotImplementedError(
                f"cannot reconstruct version {as_of}: the log below "
                f"checkpoint {cp_v} has been cleaned up"
            )
        cp_v = None
    if cp_v is not None:
        with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
            cp_parts = json.loads(fh.read() or "{}").get("parts")
        cp = os.path.join(log_dir, f"{cp_v:020d}.checkpoint.parquet")
        if cp_parts or not os.path.exists(cp):
            raise NotImplementedError(
                "only single-file classic checkpoints are maintained by "
                "this writer (multi-part/v2 found): use the delta-spark "
                "connector"
            )
        names = _pq.read_schema(cp).names
        cols = [
            c
            for c in ("txn", "add", "remove", "metaData", "protocol")
            if c in names
        ]
        for row in _pq.read_table(cp, columns=cols).to_pylist():
            _fold({k: v for k, v in row.items() if v is not None})
        state["version"] = cp_v
    for v in _log_versions(log_dir):
        if cp_v is not None and v <= cp_v:
            continue
        if as_of is not None and v > as_of:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if line.strip():
                    _fold(json.loads(line))
        state["version"] = v
    # fold the coordinator's un-backfilled tail above the newest
    # backfilled/checkpointed version — writer verbs and exactly-once
    # txn gates see the true head even when the coordinator backfills
    # lazily. A GAP between the folded head and a tail version is a
    # protocol violation (Delta versions are dense); folding over it
    # would silently skip a commit's actions, so fail loudly instead.
    for v, payload in sorted(tail.items()):
        if state["version"] is not None and v <= state["version"]:
            continue
        if cp_v is not None and v <= cp_v:
            continue
        if as_of is not None and v > as_of:
            continue
        expected = 0 if state["version"] is None else state["version"] + 1
        if v > expected:
            # also covers the EMPTY prefix (no files, no checkpoint): a
            # tail-resident log must start at version 0
            raise ValueError(
                f"coordinator tail is non-contiguous: version {v} "
                f"follows {state['version']} (commits "
                f"{expected}..{v - 1} missing from both the "
                "log and getCommits)"
            )
        for line in payload.decode("utf-8").splitlines():
            if line.strip():
                _fold(json.loads(line))
        state["version"] = v
    return state


def _table_meta(log_dir: str, versions: list[int]) -> dict | None:
    """Latest metaData action (checkpoint-seeded log replay)."""
    return _replay_state(log_dir)["meta"]


def _schema_sig(schema_json: str) -> list[tuple[str, object]]:
    s = json.loads(schema_json)
    return sorted((f["name"], json.dumps(f["type"])) for f in s["fields"])


class DeltaCommitConflict(CommitConflict):
    """Another writer committed this log version first. Every retry runs
    through :func:`~.commit.commit_with_retry`: appends retry on top of
    the winner (new data files have unique names and adds commute, as
    long as the schema/partition layout didn't change underneath), the
    data-semantic verbs (DELETE / UPDATE / MERGE / partition drop) retry
    after FILE-OVERLAP VALIDATION (``_commit_data_version``, the Delta
    twin of the Iceberg writer's ``_retry_head``), and maintenance verbs
    recompute; overwrite / restore / checkpoint commits surface this —
    their action lists were computed against the old state, so re-run
    them."""


def _layout_sig(state: dict):
    m = state.get("meta") or {}
    return (
        m.get("schemaString"),
        tuple(m.get("partitionColumns") or ()),
    )


def _staged_files(
    root: str, actions: list[dict], base_live: "dict | None" = None
) -> list[str]:
    """Files under table ``root`` that ``actions`` stage: every added
    file not live in ``base_live``, plus each deletion-vector bin whose
    descriptor is new relative to it (every MOR commit mints a fresh
    UUID-named bin, so no base entry can share one; several re-adds span
    one bin). Re-adds of pre-existing files are not staged files."""
    base_live = base_live or {}
    out: set[str] = set()
    for a in actions:
        add = a.get("add") or {}
        rel = add.get("path")
        if not rel:
            continue
        old = base_live.get(rel)
        if old is None:
            out.add(os.path.join(root, rel))
        dv = add.get("deletionVector")
        if dv and dv != (old or {}).get("deletionVector"):
            p = _dv_rel_path(dv)
            if p:
                out.add(os.path.join(root, p))
    return sorted(out)


def _commit_data_version(
    log_dir: str,
    version: int,
    actions: list[dict],
    base_state: dict,
    touched: "list[str] | set[str]",
) -> int:
    """Validated-retry commit for the data-semantic verbs: a
    DELETE/UPDATE/MERGE whose CAS loses re-commits on top of the winner
    iff the winner provably didn't touch its basis — the writer tag,
    schema and partition layout are unchanged AND every live entry this
    verb removes/re-adds (``touched``) is byte-identical at the new head
    (same add action: same stats, same deletion vector). A winner that
    only APPENDED passes; one that compacted, deleted from, or rewrote
    any touched file fails validation and the conflict surfaces for the
    caller to re-decide. Whenever the commit does not land, this verb's
    newly staged files (:func:`_staged_files`) are removed."""

    def rebase(conflict):
        nonlocal version
        state = _replay_state(log_dir)
        meta = state.get("meta") or {}
        if not (
            (meta.get("configuration") or {}).get("writer") == _WRITER_TAG
            and _layout_sig(state) == _layout_sig(base_state)
            and all(
                state["live"].get(rel) == base_state["live"].get(rel)
                for rel in touched
            )
        ):
            raise conflict
        version = state["version"] + 1

    def attempt(_written):
        _commit_version(log_dir, version, actions)
        return version

    return commit_with_retry(
        attempt,
        rebase=rebase,
        staged=_staged_files(
            os.path.dirname(log_dir), actions, base_state["live"]
        ),
    )


def _physical_names(meta: dict | None) -> dict[str, str]:
    """logical → physicalName map for a NAME-mapped table (``{}`` when
    unmapped — callers then skip translation entirely). Our own writer
    creates name-mode tables only via :func:`rename_delta_column`, which
    pins physicalName = the name at upgrade time; files therefore always
    carry physical names and the map is the one seam every scan/write
    crosses."""
    if not meta:
        return {}
    conf = meta.get("configuration") or {}
    if conf.get("delta.columnMapping.mode") != "name":
        return {}
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        out[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def _commit_version(log_dir: str, version: int, actions: list[dict]) -> None:
    """ATOMIC put-if-absent commit of ``<version>.json`` — the spec's
    log-store contract ("the creation of <v>.json must be mutually
    exclusive"), routed through the pluggable :mod:`.catalog` seam
    (round 8): the default :class:`~.catalog.FilesystemCommitter` does
    temp + fsync + ``os.link`` (put-if-absent on POSIX), and a lost
    race raises :class:`DeltaCommitConflict` instead of silently
    clobbering the winner (the same CAS recipe as the Iceberg writer).
    Object stores without atomic link/rename plug a real log store /
    catalog commit endpoint into the same seam
    (``catalog.set_committer``). A reader can never observe an empty or
    partial commit, and a crash before the swap leaves the table at the
    previous version.

    Every commit leads with a ``commitInfo`` action carrying
    ``timestamp`` (wall-clock ms at serialization — the spec's
    informational commit timestamp, what delta-spark also records).
    Timestamp time travel (``read_delta_snapshot(as_of_ms=...)``)
    prefers this over commit-file mtime, so resolution survives a log
    tree copied/rsynced without mtime preservation (round-8; commits
    from legacy/foreign writers without commitInfo fall back to mtime).
    """
    from .catalog import CatalogCommitConflict, get_committer

    final = os.path.join(log_dir, f"{version:020d}.json")
    if not any("commitInfo" in a for a in actions):
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "engineInfo": "mysoftware-nocnetintel-spark",
                }
            }
        ] + actions
    # IN-COMMIT TIMESTAMPS (PROTOCOL.md "In-Commit Timestamps", round
    # 10): once a commit in the lineage carries ``inCommitTimestamp``,
    # every later commit must too, STRICTLY MONOTONE — the clamp is
    # max(wall clock, parent ICT + 1), so timestamp time travel stays
    # correct under clock skew. The chain check is O(1) (the parent
    # commit's leading line), re-evaluated on every CAS retry so the
    # clamp is always against the commit actually preceding this one.
    prev_ict = _prev_in_commit_ts(log_dir, version)
    if prev_ict is not None:
        lead = next(
            a["commitInfo"] for a in actions if "commitInfo" in a
        )
        if lead.get("inCommitTimestamp") is None:
            lead["inCommitTimestamp"] = max(
                int(time.time() * 1000), prev_ict + 1
            )
        else:
            lead["inCommitTimestamp"] = max(
                int(lead["inCommitTimestamp"]), prev_ict + 1
            )
    payload = "".join(json.dumps(a) + "\n" for a in actions).encode()
    try:
        get_committer().put_if_absent(final, payload)
    except CatalogCommitConflict as e:
        raise DeltaCommitConflict(
            f"log version {version} was committed by another writer while "
            f"this commit was staged ({e})"
        ) from None


def _prev_in_commit_ts(log_dir: str, version: int) -> "int | None":
    """The parent commit's ``commitInfo.inCommitTimestamp``, or None
    when the parent has none (table not ICT-enabled) or its JSON is
    gone (cleaned prefix — :func:`cleanup_delta_log` keeps the newest
    ICT-bearing commit precisely so an enabled table's chain survives
    log cleanup)."""
    if version <= 0:
        return None
    p = os.path.join(log_dir, f"{version - 1:020d}.json")
    lines = None
    try:
        with open(p) as fh:
            lines = fh.read().splitlines()
    except OSError:
        # coordinated tables: the parent may be accepted but not yet
        # backfilled — the ICT chain MUST still clamp against it
        # (un-backfilled parents are exactly where clock skew between
        # commits would otherwise slip through)
        payload = _coordinator_tail(log_dir).get(version - 1)
        if payload is None:
            return None
        lines = payload.decode("utf-8").splitlines()
    for line in lines:
        if not line.strip():
            continue
        ci = json.loads(line).get("commitInfo")
        if ci is not None:
            t = ci.get("inCommitTimestamp")
            return None if t is None else int(t)
    return None


# PROTOCOL.md "Table Features": a protocol upgrade to minWriterVersion 7
# (or minReaderVersion 3) must list EVERY feature the prior legacy
# version implied, not just the features being added — otherwise a
# feature-aware foreign writer sees e.g. a column-mapped table whose
# writerFeatures omit columnMapping and writes it without honoring the
# mapping. The spec's legacy version → implied feature table:
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def _implied_writer_features(proto: dict) -> set:
    """The writer-feature set an upgrade to minWriterVersion 7 must
    carry forward from ``proto``: the explicit list when the table is
    already on table features, else the union of every legacy feature
    implied by its minWriterVersion (e.g. 5 → appendOnly, invariants,
    checkConstraints, changeDataFeed, generatedColumns, columnMapping).
    """
    cur = int(proto.get("minWriterVersion") or 1)
    if cur >= 7:
        return set(proto.get("writerFeatures") or [])
    out: set = set()
    for v, feats in _LEGACY_WRITER_FEATURES.items():
        if cur >= v:
            out.update(feats)
    return out


def _implied_reader_features(proto: dict) -> set:
    """Reader twin of :func:`_implied_writer_features` for upgrades to
    minReaderVersion 3 (legacy 2 implies columnMapping)."""
    cur = int(proto.get("minReaderVersion") or 1)
    if cur >= 3:
        return set(proto.get("readerFeatures") or [])
    out: set = set()
    for v, feats in _LEGACY_READER_FEATURES.items():
        if cur >= v:
            out.update(feats)
    return out


def enable_delta_in_commit_timestamps(path: str) -> int:
    """Enable IN-COMMIT TIMESTAMPS (PROTOCOL.md "In-Commit Timestamps")
    on a table this writer created: one commit upgrades the protocol to
    writer feature ``inCommitTimestamp``, sets
    ``delta.enableInCommitTimestamps`` plus the spec's enablement
    provenance properties (the version and ICT of this very commit —
    what tells readers which versions' timestamps are file-clock), and
    carries the chain's FIRST ``inCommitTimestamp``. Every later commit
    continues the chain automatically with the strictly-monotone clamp
    in :func:`_commit_version`. Returns the committed version.

    Why a deployment wants it: ``as_of_ms`` time travel already prefers
    in-commit ``commitInfo.timestamp``; ICT makes the preference a spec
    GUARANTEE — monotone under clock skew, immune to log trees copied
    without mtimes, and readable by any Delta engine that understands
    the feature. docs/delta_coordinated_commits.md scopes the rest of
    the coordinated-commits surface this feature composes with."""
    state = _writer_state(path)
    log_dir = os.path.join(path, "_delta_log")
    meta = state["meta"]
    conf = dict(meta.get("configuration") or {})
    if conf.get("delta.enableInCommitTimestamps") == "true":
        return state["version"]  # already enabled: idempotent no-op
    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    proto = state.get("protocol") or {}
    # a pre-features protocol (minWriterVersion < 7) lists ALL its
    # implied legacy writer features on upgrade — a column-mapped table
    # at legacy version 5 keeps columnMapping in the explicit list
    wf = _implied_writer_features(proto) | {"inCommitTimestamp"}
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(wf),
    }
    if proto.get("readerFeatures") is not None:
        new_proto["readerFeatures"] = proto["readerFeatures"]
    conf["delta.enableInCommitTimestamps"] = "true"
    conf["delta.inCommitTimestampEnablementVersion"] = str(version)
    conf["delta.inCommitTimestampEnablementTimestamp"] = str(now_ms)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "inCommitTimestamp": now_ms,  # the chain starts here
                "engineInfo": "mysoftware-nocnetintel-spark",
                "operation": "UPGRADE PROTOCOL",
            }
        },
        {"protocol": new_proto},
        {"metaData": dict(meta, configuration=conf)},
    ]
    _commit_version(log_dir, version, actions)
    return version


def enable_delta_coordinated_commits(
    path: str, coordinator: str, coordinator_conf: "dict | None" = None
) -> int:
    """Enable COORDINATED COMMITS (PROTOCOL.md "Coordinated Commits",
    the second "do" row of docs/delta_coordinated_commits.md) on a table
    this writer created: one commit upgrades the protocol to writer
    feature ``coordinatedCommits-preview`` and declares the coordinator
    in ``delta.coordinatedCommits.commitCoordinator-preview`` /
    ``...commitCoordinatorConf-preview``. From then on EVERY
    version-creating verb refuses unless the process's committer
    declares the same ``coordinator_name``
    (:func:`_check_commit_coordinator`) — the table-feature handshake
    that makes "all writers go through the coordinator" enforceable
    rather than advisory. The spec requires in-commit timestamps on
    coordinated tables, so this commit also starts the ICT chain when
    the table doesn't carry one yet.

    The enabling process must itself already commit through the
    coordinator (fail-closed from the very first coordinated version);
    the commit RPC mapping is the existing catalog seam with synchronous
    backfill semantics — see the scoping doc."""
    from .catalog import get_committer

    mine = getattr(get_committer(), "coordinator_name", None)
    if mine != coordinator:
        raise ValueError(
            f"enabling coordination for {coordinator!r} requires this "
            f"process to commit through it (committer declares {mine!r}): "
            "install the coordinator's committer first"
        )
    state = _writer_state(path)
    meta = state["meta"]
    conf = dict(meta.get("configuration") or {})
    if (
        conf.get("delta.coordinatedCommits.commitCoordinator-preview")
        == coordinator
    ):
        return state["version"]  # already coordinated here: no-op
    _check_commit_coordinator(meta)  # switching coordinators goes
    # through the OLD one (or a fresh enable passes: no declaration yet)
    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    proto = state.get("protocol") or {}
    wf = _implied_writer_features(proto) | {
        "inCommitTimestamp",
        "coordinatedCommits-preview",
    }
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(wf),
    }
    if proto.get("readerFeatures") is not None:
        new_proto["readerFeatures"] = proto["readerFeatures"]
    conf["delta.coordinatedCommits.commitCoordinator-preview"] = coordinator
    conf["delta.coordinatedCommits.commitCoordinatorConf-preview"] = (
        json.dumps(coordinator_conf or {})
    )
    if conf.get("delta.enableInCommitTimestamps") != "true":
        conf["delta.enableInCommitTimestamps"] = "true"
        conf["delta.inCommitTimestampEnablementVersion"] = str(version)
        conf["delta.inCommitTimestampEnablementTimestamp"] = str(now_ms)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "inCommitTimestamp": now_ms,
                "engineInfo": "mysoftware-nocnetintel-spark",
                "operation": "UPGRADE PROTOCOL",
            }
        },
        {"protocol": new_proto},
        {"metaData": dict(meta, configuration=conf)},
    ]
    _commit_version(os.path.join(path, "_delta_log"), version, actions)
    return version


def _check_commit_coordinator(meta: "dict | None") -> None:
    """COORDINATED-COMMITS handshake (PROTOCOL.md "Coordinated Commits",
    scoped in docs/delta_coordinated_commits.md): a table that declares a
    commit coordinator is writable ONLY through a committer declaring the
    same ``coordinator_name`` — the fail-closed gate that makes
    coordination enforceable instead of advisory. Maintenance that
    creates no commit (vacuum, checkpoint, log cleanup) stays direct, as
    the spec allows."""
    conf = ((meta or {}).get("configuration")) or {}
    coord = conf.get("delta.coordinatedCommits.commitCoordinator-preview")
    if coord is None:
        return
    from .catalog import get_committer

    mine = getattr(get_committer(), "coordinator_name", None)
    if mine != coord:
        raise NotImplementedError(
            f"table declares commit coordinator {coord!r} but this "
            f"process's committer declares {mine!r}: refusing a "
            "non-coordinated commit. Point the process at the "
            "coordinator (catalog.set_committer / SPARK_GRAFT_CATALOG "
            "with coordinator=<name>) or use an engine registered with "
            "it."
        )


def latest_txn_version(path: str, app_id: str) -> int | None:
    """The highest ``txn.version`` committed for ``app_id``, or None —
    the Delta protocol's idempotent-writer handshake (PROTOCOL.md
    "Transaction Identifiers"): a writer that stamps every commit with
    ``{"txn": {"appId", "version"}}`` can detect, across process
    restarts, which of its logical writes already landed. Driver-side
    replay only; complete even on checkpointed tables because
    :func:`checkpoint_delta_table` persists the latest txn per appId
    into the checkpoint (the spec's requirement for classic
    checkpoints)."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    return _replay_state(log_dir)["txns"].get(app_id)


def write_delta_append(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    txn: tuple[str, int] | None = None,
    sort_by: tuple[str, ...] = (),
    zorder: bool = False,
) -> int:
    """Append ``df`` to the Delta table at ``path`` (creating it on first
    write). Returns the committed version. See module docstring for scope.

    ``partition_by`` (create-time only) writes Hive layout
    (``col=value/part-*.parquet``, partition columns REMOVED from the
    files per the Delta convention) and records ``partitionValues`` on
    each add action — which is what the reader's ``partition_filter``
    prunes on, and what re-attaches the columns at scan time. Later
    appends inherit the table's partitionColumns.

    ``txn=(app_id, version)`` makes the append IDEMPOTENT (the
    protocol's Transaction Identifiers — how a streaming sink turns
    at-least-once foreachBatch retries into exactly-once): if the log
    already holds a ``txn`` for ``app_id`` at this version or higher,
    the call SKIPS — no data write, no commit — and returns the current
    table version; otherwise the txn action commits ATOMICALLY in the
    same version json as the adds, so a crash can never record the
    batch as done without its rows (or vice versa). The skip check runs
    BEFORE the distributed write: a replayed batch costs one driver-side
    log scan, zero executor work.

    ``sort_by`` clusters the write (range exchange + in-file sort) so
    the per-file ``stats`` the add actions carry become near-disjoint
    and the reader's ``scan_filter`` data skipping prunes files instead
    of none; ``zorder=True`` Morton-interleaves the sort_by columns so
    skipping works on EVERY clustered column (sources/zorder.py —
    the OPTIMIZE ZORDER BY shape)."""
    log_dir = os.path.join(path, "_delta_log")
    if txn is not None:
        app_id, tv = txn
        done = latest_txn_version(path, app_id)
        if done is not None and done >= tv:
            return _replay_state(log_dir)["version"]

    staged_sig = (
        _layout_sig(_replay_state(log_dir)) if os.path.isdir(log_dir) else None
    )
    version, actions = _stage_append(
        df, path, partition_by, sort_by=sort_by, zorder=zorder
    )
    if txn is not None:
        actions = [
            {
                "txn": {
                    "appId": txn[0],
                    "version": int(txn[1]),
                    "lastUpdated": int(time.time() * 1000),
                }
            }
        ] + actions

    def rebase(conflict):
        # Plain appends COMMUTE (the staged files carry unique names and
        # are already in the table root), so retry on top of the winner —
        # but only if this commit carries no metaData/protocol action
        # (create / schema evolution don't commute) and the winner didn't
        # change the writer, schema or partition layout underneath us.
        nonlocal version
        if any("metaData" in a or "protocol" in a for a in actions):
            raise conflict
        new_state = _replay_state(log_dir)
        meta = new_state.get("meta") or {}
        if (meta.get("configuration") or {}).get(
            "writer"
        ) != _WRITER_TAG or _layout_sig(new_state) != staged_sig:
            raise conflict
        if txn is not None:
            done = new_state["txns"].get(txn[0])
            if done is not None and done >= int(txn[1]):
                return new_state["version"]  # winner was our batch
        version = new_state["version"] + 1

    def attempt(_written):
        _commit_version(log_dir, version, actions)
        return version

    return commit_with_retry(
        attempt,
        attempts=APPEND_ATTEMPTS,
        rebase=rebase,
        staged=_staged_files(path, actions),
    )


# spark dtypes whose parquet statistics are safe to publish as add.stats
# (strings are excluded — parquet writers may truncate string min/max, and
# a truncated bound used for skipping would drop rows)
_STATS_TYPES = {
    "tinyint", "smallint", "int", "bigint",
    "float", "double", "boolean", "date",
}


def _file_stats(abspath: str, cols: set[str]) -> str | None:
    """Per-file ``add.stats`` JSON (delta.io PROTOCOL.md "Per-file
    Statistics"): numRecords + minValues/maxValues/nullCount for the
    stat-eligible columns, aggregated across row groups from the parquet
    footer. A column missing statistics in ANY row group is dropped
    (skipping on a partial range would drop rows); NaN-poisoned
    float/double stats are treated as missing (same hardening as the
    Iceberg zone maps). Dates publish in ISO form (orders identically)."""
    import math

    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(abspath).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    dead: set[str] = set()
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name not in cols or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            mn, mx = st.min, st.max
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                dead.add(name)
                continue
            nc = st.null_count if st.has_null_count else None
            if name in mins:
                mins[name] = min(mins[name], mn)
                maxs[name] = max(maxs[name], mx)
                nulls[name] = (
                    None
                    if nc is None or nulls[name] is None
                    else nulls[name] + nc
                )
            else:
                mins[name], maxs[name], nulls[name] = mn, mx, nc
    for name in dead:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return json.dumps(
        {
            "numRecords": meta.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": {k: v for k, v in nulls.items() if v is not None},
        }
    )


def _stage_append(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    zorder: bool = False,
    repartition_to: "tuple[str, ...] | None" = None,
) -> tuple[int, list[dict]]:
    """Gate + stage an append: runs every check ``write_delta_append``
    documents, performs the distributed data write, moves the files into
    the table root, and returns ``(version, actions)`` WITHOUT writing
    the commit json — so overwrite can prepend remove tombstones and
    commit removes+adds as one version file."""
    from urllib.parse import unquote

    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    state = _replay_state(log_dir)
    exists = state["version"] is not None
    part_cols = list(partition_by)
    schema_json = df.schema.json()
    evolved_schema_json: str | None = None
    if exists:
        meta = state["meta"]
        if not meta or (meta.get("configuration") or {}).get(
            "writer"
        ) != _WRITER_TAG:
            raise NotImplementedError(
                "refusing to append to a Delta table created by another "
                "writer (unknown protocol features could be violated): use "
                "the delta-spark connector"
            )
        _check_commit_coordinator(meta)
        if partition_by:
            raise ValueError(
                "partition_by is declared at table CREATE time; later "
                "appends inherit the table's partitionColumns "
                "(repartition_delta_table migrates the layout)"
            )
        part_cols = meta.get("partitionColumns") or []
        if repartition_to is not None:
            # layout migration (repartition_delta_table): write under
            # the TARGET layout instead of the inherited one — logical
            # names here, the mapped branch below translates to physical
            part_cols = list(repartition_to)
        conf = meta.get("configuration") or {}
        mapped = conf.get("delta.columnMapping.mode", "none") not in (
            "none",
            "",
            None,
        )
        tb = dict(_schema_sig(meta["schemaString"]))
        inc = dict(_schema_sig(schema_json))
        if mapped:
            # column-mapped tables keep the exact-match requirement: new
            # fields would need physicalName/id assignment
            if tb != inc:
                raise ValueError(
                    f"append schema {sorted(inc.items())} does not match "
                    f"the mapped table schema {sorted(tb.items())}"
                )
            # write the data files under PHYSICAL names (the reader
            # projects physical→logical): a logical-named file under a
            # renamed column would silently null-fill on read
            phys = _physical_names(meta)
            if phys:
                from pyspark.sql import functions as F

                order = [
                    f["name"]
                    for f in json.loads(meta["schemaString"])["fields"]
                ]
                df = df.select(
                    *[F.col(c).alias(phys.get(c, c)) for c in order]
                )
                part_cols = [phys.get(c, c) for c in part_cols]
        elif any(n not in inc or inc[n] != t for n, t in tb.items()):
            raise ValueError(
                f"append schema {sorted(inc.items())} does not cover the "
                f"table schema {sorted(tb.items())} (drops or type "
                "changes are refused; only additive evolution is "
                "supported)"
            )
        else:
            # ADDITIVE SCHEMA EVOLUTION: extra incoming columns widen the
            # table — the commit carries a new metaData action whose
            # schemaString appends them (nullable), and older files
            # null-fill on read via the explicit expected scan schema
            table_fields = json.loads(meta["schemaString"])["fields"]
            extra = [
                f
                for f in json.loads(schema_json)["fields"]
                if f["name"] not in tb
            ]
            if extra:
                widened = json.loads(meta["schemaString"])
                widened["fields"] = table_fields + [
                    dict(f, nullable=True) for f in extra
                ]
                evolved_schema_json = json.dumps(widened)
            # normalize column order to (evolved) table order — the
            # signature compare is order-insensitive but the scan schema
            # should not depend on which file Spark samples first
            df = df.select(
                *[f["name"] for f in table_fields],
                *[f["name"] for f in extra],
            )
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns {missing} not in the schema")
    version = (state["version"] + 1) if exists else 0

    if sort_by:
        bad = [c for c in sort_by if c not in df.columns]
        if bad:
            raise ValueError(f"sort_by columns {bad} not in the schema")
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
    # distributed data write into a staging dir, then move into the root
    # (for partitioned tables the stage has Hive subdirs, moved as-is)
    stage = os.path.join(path, f"__stage-{uuid.uuid4().hex[:12]}")
    writer = df.write
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(stage)
    new_files: list[tuple[str, dict]] = []  # (rel path, partitionValues)
    for f in sorted(
        glob(os.path.join(stage, "**", "*.parquet"), recursive=True)
    ):
        rel_dir = os.path.relpath(os.path.dirname(f), stage)
        pvals: dict[str, str] = {}
        if rel_dir != ".":
            for piece in rel_dir.split(os.sep):
                k, _, v = piece.partition("=")
                # the spec records NULL partition values as JSON null, not
                # Spark's on-disk __HIVE_DEFAULT_PARTITION__ sentinel
                pvals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
            os.makedirs(os.path.join(path, rel_dir), exist_ok=True)
        name = f"part-{uuid.uuid4().hex[:16]}.parquet"
        rel = name if rel_dir == "." else os.path.join(rel_dir, name)
        shutil.move(f, os.path.join(path, rel))
        new_files.append((rel, pvals))
    shutil.rmtree(stage)
    if not new_files:
        raise ValueError("append produced no data files")

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": part_cols,
                    "configuration": {"writer": _WRITER_TAG},
                    "createdTime": now_ms,
                }
            }
        )
    elif evolved_schema_json is not None:
        # additive evolution: the widened schema commits atomically with
        # this append's add actions
        actions.append(
            {"metaData": dict(state["meta"], schemaString=evolved_schema_json)}
        )
    stat_cols = {
        c for c, t in df.dtypes if t in _STATS_TYPES and c not in part_cols
    }
    for rel, pvals in new_files:
        add = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": pvals,
            "size": os.path.getsize(os.path.join(path, rel)),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        if stat_cols:
            st = _file_stats(os.path.join(path, rel), stat_cols)
            if st is not None:
                add["stats"] = st
        actions.append({"add": add})
    return version, actions


def write_delta_overwrite(df: DataFrame, path: str) -> int:
    """OVERWRITE the Delta table at ``path`` with ``df`` in one atomic
    commit: remove actions for every currently-live file + add actions
    for the new file set (the copy-on-write primitive — DELETE/UPDATE are
    this applied to a filtered read). Time travel to pre-overwrite
    versions still works: removed files stay on disk as tombstoned
    history until a vacuum. Same single-writer / same-schema /
    unCheckpointed scope as :func:`write_delta_append`; partitioned
    tables keep their layout (the overwrite writes through the same
    partitionColumns)."""
    from .readers import read_delta_snapshot  # noqa: F401 (scope doc)

    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path} (use append)")
    # the CURRENT live set (checkpoint-seeded replay, same walk the
    # reader does) so the commit can tombstone it
    live = sorted(state["live"])

    # the append path does all the gating (foreign table, checkpoint,
    # schema signature, partition layout) and stages the data + ADD
    # actions WITHOUT committing; the full action list — remove
    # tombstones first, then the adds — is then written as ONE version
    # json (put-if-absent), so no reader or crash can ever observe the
    # append without its removes.
    _, add_actions = _stage_append(df, path)
    # Commit at the ENTRY state's version+1, not _stage_append's fresh
    # replay: the remove set was computed from that entry state, so a
    # writer landing during the distributed stage must trip the CAS
    # (round-7 advisor TOCTOU) — absorbing it would leave its files
    # live and un-tombstoned under the overwrite.
    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    actions = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in live
    ] + add_actions
    # overwrite is not validated-retry: one attempt; a lost CAS cleans
    # the staged files and surfaces — the caller re-runs on the new head
    commit_with_retry(
        lambda _written: _commit_version(log_dir, version, actions),
        attempts=1,
        staged=_staged_files(path, add_actions),
    )
    return version


def drop_delta_partition(
    spark,
    path: str,
    partition_values: "dict[str, str] | list[dict[str, str]]",
    files: "list[str] | None" = None,
) -> "int | None":
    """METADATA-ONLY partition drop (round 10): commit ``remove``
    tombstones for the live adds whose ``partitionValues`` equal
    ``partition_values`` — no data file is read, rewritten, or DV'd, so
    the verb is O(partition's file count) driver-side JSON regardless of
    row count (the scale path the row-level
    :func:`delete_delta_rows` DV cap points at). A LIST of partition
    dicts drops every matching partition in ONE commit (a file matching
    any entry drops) — batch maintenance sweeps pay one CAS, not one
    per partition. Dropped files stay on
    disk as tombstoned history for time travel until a vacuum.

    ``files`` (optional) PINS the drop to an explicit relative-path set —
    the snapshot-pinned GC primitive for rescue-then-drop maintenance
    loops (``operators.ann_index``): only pinned paths still live are
    removed, a pinned path now live OUTSIDE the partition is refused
    (safety), and files appended to the partition AFTER the caller's
    pinning snapshot are NOT touched — a concurrent append racing the
    drop provably survives into the next maintenance pass instead of
    being masked unrescued.

    Returns the committed version, or None when nothing matched (an
    idempotent re-drop). Same validated-retry scope as the other data
    verbs: a lost CAS re-commits on top of the winner iff the winner
    provably didn't touch the removed entries (appends pass; a
    compaction/rewrite of a matched file surfaces
    :class:`DeltaCommitConflict`)."""
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to modify a Delta table created by another writer: "
            "use the delta-spark connector"
        )
    _check_commit_coordinator(meta)
    parts = (
        partition_values
        if isinstance(partition_values, list)
        else [partition_values]
    )
    part_cols = meta.get("partitionColumns") or []
    for pv in parts:
        bad = [k for k in pv if k not in part_cols]
        if bad:
            raise ValueError(
                f"partition keys {bad} are not partition columns of this "
                f"table (partitioned by {part_cols})"
            )
        if not pv:
            raise ValueError(
                "empty partition_values would drop the whole table: use "
                "write_delta_overwrite for that"
            )
    if not parts:
        return None
    # column-mapped tables key add.partitionValues by PHYSICAL name —
    # same translation the reader's partition_filter does
    phys = _physical_names(meta)
    wants = [
        {phys.get(k, k): str(v) for k, v in pv.items()} for pv in parts
    ]
    matched = {
        rel
        for rel, add in state["live"].items()
        if any(
            all(
                (add.get("partitionValues") or {}).get(k) == v
                for k, v in want.items()
            )
            for want in wants
        )
    }
    if files is not None:
        pinned = set(files)
        stray = sorted(
            f for f in pinned if f in state["live"] and f not in matched
        )
        if stray:
            raise ValueError(
                f"pinned files {stray[:3]}{'...' if len(stray) > 3 else ''} "
                f"are live but not in partition {partition_values} — "
                "refusing a drop outside the declared partition"
            )
        matched &= pinned  # un-pinned (post-snapshot) files survive
    if not matched:
        return None  # nothing live matches: idempotent no-op, no commit
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in sorted(matched)
    ]
    return _commit_data_version(
        log_dir, state["version"] + 1, removes, state, sorted(matched)
    )


def partition_row_counts(path: str, col: str) -> "dict[str, int] | None":
    """EXACT live row count per value of partition column ``col`` from
    the transaction log ALONE — zero data I/O: each live add's
    ``stats.numRecords`` minus its deletion-vector ``cardinality``
    (deletion vectors are Delta's only merge-on-read mask, and the
    protocol requires the descriptor to carry the exact masked count),
    summed per partition value. Returns None — callers fall back to a
    scan — when any live add lacks parseable stats or a DV lacks its
    cardinality (foreign writers); a table written by this engine
    always qualifies. The scale rationale: maintenance loops that size
    work by partition population (e.g. the ANN rebalance threshold)
    should read KB of log, not scan the table."""
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"] or {}
    part_cols = meta.get("partitionColumns") or []
    if col not in part_cols:
        raise ValueError(
            f"{col!r} is not a partition column of this table "
            f"(partitioned by {part_cols})"
        )
    pcol = _physical_names(meta).get(col, col)
    out: dict[str, int] = {}
    for add in state["live"].values():
        raw = add.get("stats")
        if not raw:
            return None
        try:
            n = json.loads(raw).get("numRecords")
        except (ValueError, TypeError):
            return None
        if n is None:
            return None
        dv = add.get("deletionVector")
        if dv is not None:
            card = dv.get("cardinality")
            if card is None:
                return None
            n = int(n) - int(card)
        v = (add.get("partitionValues") or {}).get(pcol)
        out[v] = out.get(v, 0) + int(n)
    return out


_MAX_DELETE_POSITIONS = 5_000_000  # driver-side DV build cap (see below)


def delete_delta_rows(
    spark, path: str, predicate: str, on_conflict: str = "surface"
) -> int:
    """MERGE-ON-READ DELETE: mark the rows matching ``predicate`` deleted
    via DELETION VECTORS (PROTOCOL.md "Deletion Vectors") — no data file
    is rewritten. The commit re-adds each touched file with a
    ``deletionVector`` descriptor (storageType ``u``: one UUID-named
    ``deletion_vector_<uuid>.bin`` under the table root holds this
    commit's bitmaps) plus the spec's remove tombstone for the old entry,
    and upgrades the table protocol to reader 3 / writer 7 with the
    ``deletionVectors`` feature on first use. Existing DVs are MERGED
    (old positions ∪ new) so repeated deletes stack correctly.

    The matching row positions come from ONE distributed scan over the
    live files (hidden ``_metadata.file_path`` / ``row_index`` columns,
    physical row order — unaffected by previously deleted rows, whose
    re-deletion the union makes idempotent) followed by a driver-side
    collect bounded by ``_MAX_DELETE_POSITIONS``: bitmaps are driver
    KB/MB-scale objects by design, but an unbounded DELETE (e.g. WHERE
    true at 100 TB) must fail fast toward the copy-on-write path
    (``write_delta_overwrite`` with the inverted predicate) instead of
    ballooning the driver. Returns the committed version.

    VALIDATED-RETRY SCOPE: a lost commit race auto-retries only on
    tables whose metaData still carries THIS engine's writer tag
    (``_commit_data_version``) — if a foreign engine (e.g. delta-spark)
    races this verb and its winning commit rewrote the metaData, the
    conflict always surfaces as :class:`DeltaCommitConflict` for the
    caller to re-run, because a foreign winner's semantics (protocol
    features, action conventions) can't be validated file-by-file here.
    Single-engine multi-writer races validate and retry as documented."""
    import uuid as uuid_mod

    from pyspark.sql import functions as F

    from .roaring import (
        dv_positions_from_descriptor,
        encode_rbm_array,
        write_dv_file,
        z85_encode,
    )

    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        # snapshot-isolation serial re-execution (round 8): re-run the
        # whole DELETE against the winner's head — fresh replay, fresh
        # (file, pos) coordinates and DV merge targets
        return commit_with_retry(
            lambda _written: delete_delta_rows(spark, path, predicate)
        )
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to delete from a Delta table created by another "
            "writer: use the delta-spark connector"
        )
    _check_commit_coordinator(meta)
    # the live set INCLUDING current DV descriptors (merge target)
    live = state["live"]
    had_dv_protocol = state["dv_protocol"]
    if not live:
        raise ValueError("empty table")

    # ONE distributed scan finds (file, physical position) per match.
    # _masked_target scans with the DECLARED schema (pre-evolution files
    # null-fill), projects physical→logical under column mapping, and
    # re-attaches typed partition literals under their LOGICAL names —
    # so the predicate can reference partition columns (and renamed
    # ones) exactly like UPDATE/MERGE. Already-DV-deleted rows are
    # masked out of the scan; the bitmap union below keeps them deleted.
    matches = (
        _masked_target(spark, path, state)
        .filter(F.expr(predicate))
        .select("__fp", "__pos")
        .limit(_MAX_DELETE_POSITIONS + 1)
        .collect()
    )
    if len(matches) > _MAX_DELETE_POSITIONS:
        raise NotImplementedError(
            f"DELETE matches more than {_MAX_DELETE_POSITIONS} rows: use "
            "copy-on-write (write_delta_overwrite with the inverted "
            "predicate) instead of a driver-built deletion vector"
        )
    by_file: dict[str, set] = {}
    abs_to_rel = {
        os.path.abspath(os.path.join(path, rel)): rel for rel in live
    }
    for r in matches:
        # _masked_target already normalized __fp from the percent-encoded
        # _metadata.file_path URI to a plain absolute path (readers.py
        # _uri_to_path — the round-5 advisor seam), the same form the DV
        # anti-join matches on
        by_file.setdefault(abs_to_rel[os.path.abspath(r["__fp"])], set()).add(
            r["__pos"]
        )
    if not by_file:
        raise ValueError(f"DELETE predicate {predicate!r} matched no rows")

    # merge with existing DVs, encode one bitmap per touched file
    rels = sorted(by_file)
    bitmaps: list[bytes] = []
    cards: list[int] = []
    for rel in rels:
        positions = set(by_file[rel])
        old_dv = live[rel].get("deletionVector")
        if old_dv:
            positions |= set(dv_positions_from_descriptor(path, old_dv))
        positions = sorted(positions)
        bitmaps.append(encode_rbm_array(positions))
        cards.append(len(positions))
    dv_uuid = uuid_mod.uuid4()
    dv_name = f"deletion_vector_{dv_uuid}.bin"
    spans = write_dv_file(os.path.join(path, dv_name), bitmaps)

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if not had_dv_protocol:
        prior_proto = state.get("protocol") or {}
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        _implied_reader_features(prior_proto)
                        | {"deletionVectors"}
                    ),
                    "writerFeatures": sorted(
                        _implied_writer_features(prior_proto)
                        | {"deletionVectors"}
                    ),
                }
            }
        )
    for rel, (offset, size), card in zip(rels, spans, cards):
        old = live[rel]
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
        re_add = {
            "path": rel,
            "partitionValues": old.get("partitionValues") or {},
            "size": old.get("size")
            or os.path.getsize(os.path.join(path, rel)),
            "modificationTime": now_ms,
            "dataChange": True,
            "deletionVector": {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": offset,
                "sizeInBytes": size,
                "cardinality": card,
            },
        }
        # carry the physical file's stats through the re-add: min/max
        # still bound the surviving rows (possibly loosely), so data
        # skipping keeps working on DV-masked tables
        if old.get("stats"):
            re_add["stats"] = old["stats"]
        actions.append({"add": re_add})
    version = state["version"] + 1
    return _commit_data_version(log_dir, version, actions, state, rels)


def _masked_target(
    spark, path: str, state: dict, rels: "set[str] | None" = None
) -> DataFrame:
    """Every live LOGICAL row of the table with ``__fp`` (absolute data-file
    path) and ``__pos`` (physical row index) attached — the copy-on-write
    UPDATE/MERGE building block. Per-partition-tuple scans re-attach typed
    partition literals (data files don't store partition columns), the scan
    uses the DECLARED table schema (pre-evolution files null-fill), and
    deletion-vector positions are anti-joined out (bounded driver decode,
    same cap as DELETE) so rewrites can never resurrect deleted rows.
    ``rels`` restricts the scan to a subset of the live files (the change
    feed uses this to read only the files that differ between versions)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .roaring import dv_positions_from_descriptor

    meta = state["meta"]
    live = state["live"]
    if rels is not None:
        live = {rel: e for rel, e in live.items() if rel in rels}
    if not live:
        raise ValueError("no files to scan")
    schema = json.loads(meta["schemaString"])
    part_cols = meta.get("partitionColumns") or []
    part_types = {
        f["name"]: f["type"]
        for f in schema["fields"]
        if isinstance(f.get("type"), str)
    }
    # NAME-mapped tables: files carry PHYSICAL column names — scan by
    # those and project back to logical in the same select that grabs
    # the _metadata coordinates (identity map when unmapped)
    phys = _physical_names(meta)
    scan_schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                dict(f, name=phys.get(f["name"], f["name"]))
                for f in schema["fields"]
                if f["name"] not in part_cols
            ],
        }
    )
    data_cols = [
        F.col(phys.get(f["name"], f["name"])).alias(f["name"])
        for f in schema["fields"]
        if f["name"] not in part_cols
    ]
    groups: dict[tuple, list[str]] = {}
    for rel, e in live.items():
        pv = tuple(sorted((e.get("partitionValues") or {}).items()))
        groups.setdefault(pv, []).append(rel)
    # file_path is a PERCENT-ENCODED URI (file:/abs or file:///abs) —
    # normalize to a plain absolute path so it joins against
    # os.path.abspath on the driver (round-5 advisor: scheme-strip alone
    # silently un-matched every DV coordinate under a path with a space)
    from .readers import _uri_to_path

    fp_norm = _uri_to_path(F.col("_metadata.file_path"))
    # add.partitionValues keys are PHYSICAL names (spec: partition values
    # are tracked physically under column mapping) — attach the literal
    # under the LOGICAL name so the returned rows and the type lookup
    # both follow the declared schema even after a partition rename
    to_logical = {v: k for k, v in phys.items()}
    target = None
    for pv, rels in sorted(groups.items()):
        df = (
            spark.read.schema(scan_schema)
            .parquet(*[os.path.join(path, r) for r in sorted(rels)])
            .select(
                *data_cols,
                fp_norm.alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        )
        for k, v in pv:
            k = to_logical.get(k, k)
            df = df.withColumn(
                k,
                (F.lit(None) if v is None else F.lit(v)).cast(
                    part_types.get(k, "string")
                ),
            )
        target = df if target is None else target.unionByName(df)
    dv_rows: list[tuple[str, int]] = []
    for rel, e in sorted(live.items()):
        dv = e.get("deletionVector")
        if not dv:
            continue
        positions = dv_positions_from_descriptor(path, dv)
        if len(dv_rows) + len(positions) > _MAX_DELETE_POSITIONS:
            raise NotImplementedError(
                f"live deletion vectors mask more than "
                f"{_MAX_DELETE_POSITIONS} rows: compact the table first"
            )
        ab = os.path.abspath(os.path.join(path, rel))
        dv_rows.extend((ab, int(p)) for p in positions)
    if dv_rows:
        dead = spark.createDataFrame(dv_rows, "__fp string, __pos bigint")
        target = target.join(
            F.broadcast(dead), ["__fp", "__pos"], "left_anti"
        )
    return target


def _writer_state(path: str) -> dict:
    """Replayed state gated to tables THIS writer created (shared by the
    copy-on-write MERGE/UPDATE verbs)."""
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to rewrite a Delta table created by another writer: "
            "use the delta-spark connector"
        )
    _check_commit_coordinator(meta)
    if not state["live"]:
        raise ValueError("empty table")
    return state


def _commit_cow_rewrite(
    spark, path: str, state: dict, touched_rel: list[str], new_df, has_rows
) -> int:
    """Shared MERGE/UPDATE commit tail: stage ``new_df`` as ordinary add
    actions (unless provably empty), prepend remove tombstones for the
    rewritten files, and commit everything as ONE version json — a reader
    or crash can never observe the adds without their removes or vice
    versa. ``has_rows`` avoids staging a zero-row write (a delete-only
    merge commits removes only)."""
    log_dir = os.path.join(path, "_delta_log")
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in touched_rel
    ]
    if has_rows:
        _, add_actions = _stage_append(new_df, path)
    else:
        add_actions = []
    # Commit at base_state's version+1, NOT _stage_append's fresh replay:
    # the removes/touched set were computed against base_state, so a
    # writer landing between entry and staging must trip the CAS and flow
    # through _commit_data_version's validation instead of being silently
    # absorbed at the re-derived version (round-7 advisor TOCTOU).
    version = state["version"] + 1
    return _commit_data_version(
        log_dir, version, removes + add_actions, state, touched_rel
    )


def merge_delta_rows(
    spark,
    path: str,
    source: DataFrame,
    on: list[str] | tuple[str, ...],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    strategy: str = "cow",
    on_conflict: str = "surface",
) -> int:
    """MERGE (upsert) into the Delta table at ``path`` —
    the standard ``MERGE INTO target USING source ON keys`` subset:

    - ``when_matched``: ``"update"`` replaces the whole target row with
      the matching source row (UPDATE SET *) or ``"delete"`` drops it;
    - ``when_not_matched``: ``"insert"`` appends unmatched source rows
      (INSERT *) or ``"ignore"`` drops them;
    - a target row matched by MORE THAN ONE source row raises (the same
      ambiguity error delta-spark's MERGE throws — applying both updates
      would be order-dependent).

    ``strategy`` picks the physical plan, same logical result:

    - ``"cow"`` (copy-on-write, default): only the files that actually
      contain matched keys are rewritten — one distributed key-semi-join
      finds them, survivors (non-matching rows of those files,
      deletion-vector-masked so deleted rows can't resurrect) are
      rewritten together with the merged source rows, and the commit is
      ONE atomic version json (removes for the touched files + adds).
      Untouched files keep their add entries verbatim — at 100 TB a
      merge touching 0.1% of files rewrites 0.1% of the data, not the
      table.
    - ``"mor"`` (merge-on-read via deletion vectors): matched target
      rows are MASKED instead of rewritten — each touched file gets a
      remove + re-add carrying a deletion vector (merged with any
      existing DV, stats carried so data skipping survives), and only
      the merged source rows are written as new files. Still ONE atomic
      commit (protocol upgrade to (3,7) included when needed). This is
      what a merge touching 10 rows of a 1 GB file should do: a KB-scale
      DV write instead of a 1 GB rewrite. Read amplification moves to
      scan time (DV anti-join) until compaction folds the DVs away;
      the matched-coordinate collect is driver-bounded
      (``_MAX_DELETE_POSITIONS`` — beyond that, use ``"cow"``, whose
      rewrite cost is the honest one at that selectivity anyway).
    Matching follows SQL equality: NULL keys never match, so
    NULL-keyed source rows insert rather than update. The source schema
    must equal the table schema (merge never evolves it). Returns the
    committed version; raises :class:`DeltaCommitConflict` if another
    writer commits first and file-overlap validation can't prove the
    winner disjoint (re-run — the touched set was computed against the
    old state). Validated retry engages only against same-engine
    winners — see the VALIDATED-RETRY SCOPE note on
    :func:`delete_delta_rows`."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError("when_matched must be 'update' or 'delete'")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError("when_not_matched must be 'insert' or 'ignore'")
    if strategy not in ("cow", "mor"):
        raise ValueError("strategy must be 'cow' or 'mor'")
    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        # snapshot-isolation serial re-execution (round 8): the whole
        # merge re-runs against the winner's head — fresh key
        # membership, fresh touched-file set, fresh ambiguity probe
        return commit_with_retry(
            lambda _written: merge_delta_rows(
                spark, path, source, on, when_matched,
                when_not_matched, strategy,
            )
        )
    keys = list(on)
    if not keys:
        raise ValueError("merge needs at least one ON key column")
    state = _writer_state(path)
    meta = state["meta"]
    if _schema_sig(meta["schemaString"]) != _schema_sig(
        source.schema.json()
    ):
        raise ValueError(
            "merge source schema does not match the table schema "
            "(merge never evolves the schema; use write_delta_append)"
        )
    table_cols = [
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    ]
    bad = [k for k in keys if k not in table_cols]
    if bad:
        raise ValueError(f"ON columns {bad} not in the table schema")
    src = source.select(*table_cols)
    target = _masked_target(spark, path, state)

    # ambiguity gate: duplicate source keys are only an error when they
    # actually match a target row (duplicate not-matched rows both insert,
    # as in SQL MERGE)
    dup_keys = (
        src.groupBy(*keys).count().filter(F.col("count") > 1).drop("count")
    )
    if (
        dup_keys.join(target.select(*keys), keys, "left_semi")
        .limit(1)
        .count()
    ):
        raise ValueError(
            "merge is ambiguous: more than one source row matches the same "
            "target row (duplicate ON keys in source)"
        )

    src_keys = src.select(*keys).distinct()
    touched_abs = sorted(
        r["__fp"]
        for r in target.join(src_keys, keys, "left_semi")
        .select("__fp")
        .distinct()
        .collect()
    )
    abs_to_rel = {
        os.path.abspath(os.path.join(path, rel)): rel
        for rel in state["live"]
    }
    touched_rel = [abs_to_rel[a] for a in touched_abs]
    if not touched_rel and when_not_matched == "ignore":
        raise ValueError("merge matched no rows and inserts are ignored")

    if strategy == "mor":
        return _commit_mor_merge(
            spark,
            path,
            state,
            src,
            keys,
            target,
            src_keys,
            abs_to_rel,
            when_matched,
            when_not_matched,
        )

    tgt_keys = target.select(*keys)
    keep = (
        target.filter(F.col("__fp").isin(touched_abs))
        .join(src_keys, keys, "left_anti")
        .select(*table_cols)
    )
    pieces = [keep] if touched_rel else []
    if when_matched == "update" and when_not_matched == "insert":
        pieces.append(src)  # semi ∪ anti of src on target keys == src
    else:
        if when_matched == "update":
            pieces.append(src.join(tgt_keys, keys, "left_semi"))
        if when_not_matched == "insert":
            pieces.append(src.join(tgt_keys, keys, "left_anti"))
    if not pieces:
        return _commit_cow_rewrite(
            spark, path, state, touched_rel, None, has_rows=False
        )
    new_df = pieces[0]
    for p in pieces[1:]:
        new_df = new_df.unionByName(p)
    has_rows = bool(new_df.limit(1).count())
    return _commit_cow_rewrite(
        spark, path, state, touched_rel, new_df, has_rows
    )


def _commit_mor_merge(
    spark,
    path: str,
    state: dict,
    src: DataFrame,
    keys: list[str],
    target: DataFrame,
    src_keys: DataFrame,
    abs_to_rel: dict,
    when_matched: str,
    when_not_matched: str,
) -> int:
    """Merge-on-read MERGE commit tail (``strategy="mor"``): mask the
    matched target rows with deletion vectors (one merged bitmap per
    touched file, existing DVs unioned in, stats carried through the
    re-add) and stage only the merged source rows as new files — removes,
    DV re-adds, protocol upgrade, and adds all land in ONE version json.
    ``target`` is already DV-masked, so previously deleted rows can never
    re-collect into a bitmap."""
    matched = target.join(src_keys, keys, "left_semi").select(
        "__fp", "__pos"
    )

    # merged source rows — same mode table as the CoW path minus the
    # survivors (the DV masks replace the survivor rewrite)
    tgt_keys = target.select(*keys)
    if when_matched == "update" and when_not_matched == "insert":
        new_df = src  # semi ∪ anti of src on target keys == src
    elif when_matched == "update":
        new_df = src.join(tgt_keys, keys, "left_semi")
    elif when_not_matched == "insert":
        new_df = src.join(tgt_keys, keys, "left_anti")
    else:  # delete matched only
        new_df = None
    return _commit_mor_mask_and_add(
        spark, path, state, matched, new_df, abs_to_rel, "merge"
    )


def _commit_mor_mask_and_add(
    spark,
    path: str,
    state: dict,
    coords: DataFrame,
    new_df,
    abs_to_rel: dict,
    op: str,
) -> int:
    """Shared merge-on-read commit tail (MoR MERGE and UPDATE): collect
    the (file, physical position) coordinates to mask (driver-bounded),
    build one merged deletion vector per touched file (existing DVs
    unioned in, stats carried through the re-add), stage ``new_df`` as
    ordinary adds, and commit protocol upgrade + removes + DV re-adds +
    adds as ONE version json."""
    import uuid as uuid_mod

    from .roaring import (
        dv_positions_from_descriptor,
        encode_rbm_array,
        write_dv_file,
        z85_encode,
    )

    log_dir = os.path.join(path, "_delta_log")
    live = state["live"]
    matched = coords.limit(_MAX_DELETE_POSITIONS + 1).collect()
    if len(matched) > _MAX_DELETE_POSITIONS:
        raise NotImplementedError(
            f"{op} matches more than {_MAX_DELETE_POSITIONS} rows: use "
            "strategy='cow' (at that selectivity the rewrite is the "
            "honest cost, and the deletion-vector bitmaps would balloon "
            "the driver)"
        )
    by_file: dict[str, set] = {}
    for r in matched:
        by_file.setdefault(
            abs_to_rel[os.path.abspath(r["__fp"])], set()
        ).add(r["__pos"])
    has_rows = new_df is not None and bool(new_df.limit(1).count())

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if by_file and not state["dv_protocol"]:
        prior_proto = state.get("protocol") or {}
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        _implied_reader_features(prior_proto)
                        | {"deletionVectors"}
                    ),
                    "writerFeatures": sorted(
                        _implied_writer_features(prior_proto)
                        | {"deletionVectors"}
                    ),
                }
            }
        )
    rels = sorted(by_file)
    if by_file:
        bitmaps: list[bytes] = []
        cards: list[int] = []
        for rel in rels:
            positions = set(by_file[rel])
            old_dv = live[rel].get("deletionVector")
            if old_dv:
                positions |= set(
                    dv_positions_from_descriptor(path, old_dv)
                )
            ordered = sorted(positions)
            bitmaps.append(encode_rbm_array(ordered))
            cards.append(len(ordered))
        dv_uuid = uuid_mod.uuid4()
        spans = write_dv_file(
            os.path.join(path, f"deletion_vector_{dv_uuid}.bin"), bitmaps
        )
        for rel, (offset, size), card in zip(rels, spans, cards):
            old = live[rel]
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            re_add = {
                "path": rel,
                "partitionValues": old.get("partitionValues") or {},
                "size": old.get("size")
                or os.path.getsize(os.path.join(path, rel)),
                "modificationTime": now_ms,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "u",
                    "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                    "offset": offset,
                    "sizeInBytes": size,
                    "cardinality": card,
                },
            }
            # carried stats still bound the surviving rows (loosely), so
            # data skipping keeps working on the masked file
            if old.get("stats"):
                re_add["stats"] = old["stats"]
            actions.append({"add": re_add})

    if has_rows:
        _, add_actions = _stage_append(new_df, path)
        actions.extend(add_actions)
    # base_state version+1, not _stage_append's re-derived version: an
    # interleaved writer must trip the CAS so the DV coordinates/protocol
    # decisions computed from `state` go through validation (r7 advisor).
    version = state["version"] + 1
    if not actions:
        raise ValueError(f"{op} changed nothing")
    return _commit_data_version(log_dir, version, actions, state, rels)


def update_delta_rows(
    spark,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    strategy: str = "cow",
    on_conflict: str = "surface",
) -> int:
    """UPDATE rows matching ``predicate``, applying ``set_exprs``
    (column → SQL expression, evaluated against the old row, cast back to
    the column's declared type). ``strategy="cow"`` (default) rewrites
    only the files containing matches — matching rows updated, the rest
    carried verbatim — as one atomic removes+adds version json;
    ``strategy="mor"`` masks the matched rows with deletion vectors and
    writes ONLY the updated rows as new files (same tradeoff as the MoR
    merge: KB-scale DV instead of a file rewrite, scan-time anti-join
    until compaction, driver-bounded match count). Deletion-vector-masked
    input either way (an UPDATE can't resurrect deleted rows);
    partition-column updates are legal — rewritten/new rows land in their
    new partition directory. Raises if the predicate matches nothing (a
    no-op commit would bump the version for no reason). Lost commit
    races validate-and-retry only against same-engine winners — see the
    VALIDATED-RETRY SCOPE note on :func:`delete_delta_rows`."""
    from pyspark.sql import functions as F

    if strategy not in ("cow", "mor"):
        raise ValueError("strategy must be 'cow' or 'mor'")
    state = _writer_state(path)
    meta = state["meta"]
    if on_conflict not in ("surface", "rescan"):
        raise ValueError("on_conflict must be 'surface' or 'rescan'")
    if on_conflict == "rescan":
        # snapshot-isolation serial re-execution (round 8): fresh scan,
        # fresh touched files / DV coordinates / rewritten images
        return commit_with_retry(
            lambda _written: update_delta_rows(
                spark, path, predicate, set_exprs, strategy
            )
        )
    fields = json.loads(meta["schemaString"])["fields"]
    table_cols = [f["name"] for f in fields]
    bad = [c for c in set_exprs if c not in table_cols]
    if bad:
        raise ValueError(f"SET columns {bad} not in the table schema")
    target = _masked_target(spark, path, state)
    types = dict(target.dtypes)
    touched_abs = sorted(
        r["__fp"]
        for r in target.filter(F.expr(predicate))
        .select("__fp")
        .distinct()
        .collect()
    )
    if not touched_abs:
        raise ValueError(f"UPDATE predicate {predicate!r} matched no rows")
    abs_to_rel = {
        os.path.abspath(os.path.join(path, rel)): rel
        for rel in state["live"]
    }
    touched_rel = [abs_to_rel[a] for a in touched_abs]
    pred = F.expr(predicate)
    if strategy == "mor":
        # mask exactly the matching rows; write ONLY their updated twins
        updated = target.filter(pred).select(
            "__fp",
            "__pos",
            *[
                F.expr(set_exprs[c]).cast(types[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in table_cols
            ],
        )
        return _commit_mor_mask_and_add(
            spark,
            path,
            state,
            updated.select("__fp", "__pos"),
            updated.select(*table_cols),
            abs_to_rel,
            "update",
        )
    new_df = target.filter(F.col("__fp").isin(touched_abs)).select(
        *[
            F.when(pred, F.expr(set_exprs[c]).cast(types[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in table_cols
        ]
    )
    return _commit_cow_rewrite(
        spark, path, state, touched_rel, new_df, has_rows=True
    )


def _dv_rel_path(dv: dict | None) -> str | None:
    """Root-relative file of a ``u``-storage deletion-vector descriptor
    (PROTOCOL.md DV naming: optional path prefix + Z85 of the UUID), or
    None — ``p`` (absolute) and ``i`` (inline) descriptors own no file
    under the table root."""
    if not dv or dv.get("storageType") != "u":
        return None
    import uuid as uuid_mod

    from .roaring import z85_decode

    payload = dv["pathOrInlineDv"]
    prefix, z = payload[:-20], payload[-20:]
    u = uuid_mod.UUID(bytes=z85_decode(z))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(prefix, name) if prefix else name


def rename_delta_column(path: str, old: str, new: str) -> int:
    """RENAME a column — metadata-only, one commit (delta.io PROTOCOL.md
    "Column Mapping", the Iceberg twin of ``rename_iceberg_column``). An
    unmapped table is upgraded to ``columnMapping.mode=name`` in the same
    commit: every field pins ``physicalName`` = its name at upgrade time
    and a fresh ``columnMapping.id``, so every existing data file (which
    carries those physical names) keeps resolving, and the protocol
    rises to (2, 5) — within this reader's gate and delta-spark's. The
    rename then changes only the LOGICAL name; reads project
    physical→logical (readers.py ``_apply_column_mapping``), appends
    translate logical→physical before writing (``_stage_append``), and
    the copy-on-write verbs scan physical and rewrite through the same
    translated append, so the full verb matrix survives a rename.

    PARTITION columns rename too (round-7; the Iceberg twin landed
    partition-SOURCE renames in round 6): ``metaData.partitionColumns``
    tracks LOGICAL names in this writer, so the same commit rewrites the
    entry, while ``add.partitionValues`` and the Hive directory layout
    stay keyed by the PHYSICAL name — existing files and their pruning
    metadata never move. Writes translate partition columns
    logical→physical like every other column (``_stage_append``),
    reads re-attach partition literals under the logical name
    (``_masked_target``, readers.py), and ``partition_filter`` accepts
    logical keys and translates before matching the log.

    Refused: a ``new`` name already in the schema, and foreign tables.
    Returns the committed version."""
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to rename a column on a Delta table created by "
            "another writer: use the delta-spark connector"
        )
    _check_commit_coordinator(meta)
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"column {old!r} does not exist; schema has {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    conf = dict(meta.get("configuration") or {})
    mode = conf.get("delta.columnMapping.mode", "none")
    actions: list[dict] = []
    if mode in ("none", "", None):
        # upgrade in the SAME commit: physicalName := current names, so
        # every existing file keeps resolving byte-for-byte
        for i, f in enumerate(schema["fields"]):
            md = dict(f.get("metadata") or {})
            md["delta.columnMapping.id"] = i + 1
            md["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = md
        conf["delta.columnMapping.mode"] = "name"
        # configuration is a map<string,string> in the spec (and in the
        # parquet checkpoint schema) — an int here breaks checkpointing
        conf["delta.columnMapping.maxColumnId"] = str(len(schema["fields"]))
        actions.append(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        )
    elif mode != "name":
        raise NotImplementedError(
            f"rename under columnMapping.mode={mode!r}: name mode only"
        )
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    # partitionColumns tracks LOGICAL names (physical keys live only in
    # add.partitionValues / the directory layout, both pinned by the
    # name-mode upgrade above) — rename the entry in the same commit
    part_cols = [
        new if c == old else c for c in (meta.get("partitionColumns") or [])
    ]
    actions.append(
        {
            "metaData": dict(
                meta,
                schemaString=json.dumps(schema),
                partitionColumns=part_cols,
                configuration=conf,
            )
        }
    )
    version = state["version"] + 1
    _commit_version(log_dir, version, actions)
    return version


def drop_delta_column(path: str, name: str) -> int:
    """DROP a column — metadata-only, one commit (the rename verb's
    sibling; delta.io PROTOCOL.md "Column Mapping" is what makes drops
    metadata-only). An unmapped table upgrades to name mode in the same
    commit (physicalName pinned, protocol (2,5)) exactly like
    :func:`rename_delta_column`; the field then leaves the logical
    schema while data files keep the physical column — scans stop
    projecting it, time travel to pre-drop versions still shows it (the
    reader resolves each version's own metaData). Re-adding a column
    under a dropped name is refused at append time for mapped tables
    (exact-match schema gate), so old values can never resurface.
    Refused: partition columns, the last remaining column. Returns the
    committed version."""
    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to drop a column on a Delta table created by "
            "another writer: use the delta-spark connector"
        )
    _check_commit_coordinator(meta)
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if name not in names:
        raise ValueError(f"column {name!r} does not exist; schema has {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the last remaining column")
    if name in (meta.get("partitionColumns") or []):
        raise NotImplementedError(
            f"column {name!r} is a partition column: partition drops "
            "are not supported"
        )
    conf = dict(meta.get("configuration") or {})
    mode = conf.get("delta.columnMapping.mode", "none")
    actions: list[dict] = []
    if mode in ("none", "", None):
        for i, f in enumerate(schema["fields"]):
            md = dict(f.get("metadata") or {})
            md["delta.columnMapping.id"] = i + 1
            md["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = md
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(len(schema["fields"]))
        actions.append(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        )
    elif mode != "name":
        raise NotImplementedError(
            f"drop under columnMapping.mode={mode!r}: name mode only"
        )
    schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
    actions.append(
        {
            "metaData": dict(
                meta,
                schemaString=json.dumps(schema),
                configuration=conf,
            )
        }
    )
    version = state["version"] + 1
    _commit_version(log_dir, version, actions)
    return version


def restore_delta_table(path: str, version: int) -> int:
    """RESTORE the table to the state it had at ``version`` — as a NEW
    commit (the delta-spark ``RESTORE TABLE ... TO VERSION AS OF``
    verb): remove actions for files live now but not then, add actions
    re-instating files live then but not now (their ORIGINAL add
    entries, stats and deletion vectors included, so data skipping and
    DV masking restore too), plus the old metaData when the schema
    evolved in between. History is preserved — the restore itself can
    be time-traveled past, and a second restore can undo it. Purely a
    driver-side metadata commit: zero data files move. Fails fast when
    a needed data file has been physically vacuumed (same error
    delta-spark raises) or when the pre-checkpoint log tail needed to
    reconstruct ``version`` was cleaned up."""
    log_dir = os.path.join(path, "_delta_log")
    state = _writer_state(path)
    if version == state["version"]:
        raise ValueError(f"table is already at version {version}")
    target = _replay_state(log_dir, as_of=version)
    if target["version"] != version:
        raise ValueError(
            f"version {version} does not exist (log has "
            f"{target['version']})"
        )
    now_live, old_live = state["live"], target["live"]
    needed = list(old_live)
    needed += [
        dv_rel
        for e in old_live.values()
        if (dv_rel := _dv_rel_path(e.get("deletionVector"))) is not None
    ]
    missing = [
        rel for rel in needed if not os.path.exists(os.path.join(path, rel))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: data files "
            f"{sorted(missing)[:3]}... were vacuumed"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if (state["meta"] or {}).get("schemaString") != (
        target["meta"] or {}
    ).get("schemaString"):
        actions.append({"metaData": target["meta"]})
    for rel in sorted(set(now_live) - set(old_live)):
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for rel, entry in sorted(old_live.items()):
        if now_live.get(rel) == entry:
            continue  # unchanged live entry — nothing to re-state
        if rel in now_live:
            # same file, different entry (e.g. its DV changed): the
            # re-add below supersedes it, no remove needed (add wins)
            pass
        actions.append({"add": dict(entry, dataChange=True)})
    if not actions:
        raise ValueError(
            f"restore to version {version} would be a no-op (state is "
            "identical)"
        )
    new_version = state["version"] + 1
    _commit_version(log_dir, new_version, actions)
    return new_version


def delta_table_changes(
    spark, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """NET row-level CHANGE FEED between two versions — the incremental
    consumption primitive (what delta-spark's ``table_changes`` provides,
    minus per-commit attribution): every row returned carries
    ``_change_type`` ``insert`` or ``delete``, and replaying the feed on
    top of the FROM snapshot reproduces the TO snapshot exactly.

    Computed from the log alone, no change-data files: the two replayed
    live sets are diffed per file — files only in TO contribute their
    live rows as inserts, files only in FROM contribute theirs as
    deletes, and files in both with different deletion vectors
    contribute the DV-diff positions (grown = deletes, shrunk = inserts,
    so RESTORE feeds replay correctly). The two sides are then NETTED
    against each other (multiplicity-aware ``exceptAll``): rows a
    copy-on-write rewrite merely moved between files cancel out, so a
    pure compaction yields an EMPTY feed and replay is order-independent.
    An updated row surfaces as a delete+insert pair rather than
    update_pre/update_post images — the documented contract of a
    log-derived feed (delta-spark needs ``delta.enableChangeDataFeed``
    change-data files for update images). Net semantics also mean a row
    inserted AND deleted strictly between the two versions never appears.

    I/O is proportional to the CHANGED files only (the diff picks rels
    before any scan is planned); DV diffs are driver-decoded under the
    same position cap as DELETE. Rows scan with the TO-version declared
    schema (additive evolution null-fills the old files)."""
    from pyspark.sql import functions as F

    log_dir = os.path.join(path, "_delta_log")
    state_to = _replay_state(log_dir, as_of=to_version)
    if state_to["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    if to_version is not None and state_to["version"] != to_version:
        raise ValueError(f"version {to_version} does not exist")
    state_from = _replay_state(log_dir, as_of=from_version)
    if state_from["version"] != from_version:
        raise ValueError(f"version {from_version} does not exist")
    if from_version >= state_to["version"]:
        raise ValueError(
            f"from_version {from_version} must precede to_version "
            f"{state_to['version']}"
        )
    f_live, t_live = state_from["live"], state_to["live"]
    ins_rels = {rel for rel in t_live if rel not in f_live}
    del_rels = {rel for rel in f_live if rel not in t_live}
    # shared files whose DV changed: diff the position sets
    from .roaring import dv_positions_from_descriptor

    def _pos(entry) -> set:
        dv = entry.get("deletionVector")
        return (
            set(dv_positions_from_descriptor(path, dv)) if dv else set()
        )

    dv_inserts: list[tuple[str, int]] = []
    dv_deletes: list[tuple[str, int]] = []
    for rel in sorted(set(f_live) & set(t_live)):
        if f_live[rel] == t_live[rel]:
            continue
        pf, pt = _pos(f_live[rel]), _pos(t_live[rel])
        ab = os.path.abspath(os.path.join(path, rel))
        dv_deletes.extend((ab, int(p)) for p in sorted(pt - pf))
        dv_inserts.extend((ab, int(p)) for p in sorted(pf - pt))
        if len(dv_deletes) + len(dv_inserts) > _MAX_DELETE_POSITIONS:
            raise NotImplementedError(
                f"change feed exceeds {_MAX_DELETE_POSITIONS} DV-diff "
                "positions: consume smaller version ranges"
            )
    table_cols = [
        f["name"]
        for f in json.loads(state_to["meta"]["schemaString"])["fields"]
    ]
    ins_parts: list[DataFrame] = []
    del_parts: list[DataFrame] = []
    if ins_rels:
        ins_parts.append(
            _masked_target(spark, path, state_to, ins_rels).select(
                *table_cols
            )
        )
    if del_rels:
        del_parts.append(
            _masked_target(spark, path, state_from, del_rels).select(
                *table_cols
            )
        )
    for rows, parts in ((dv_inserts, ins_parts), (dv_deletes, del_parts)):
        if not rows:
            continue
        # positions to materialize: scan the shared files UNMASKED and
        # keep exactly the diffed (file, position) pairs
        rels = {os.path.relpath(fp, path) for fp, _ in rows}
        unmasked = dict(state_to, live={
            rel: dict(e, deletionVector=None)
            for rel, e in t_live.items()
            if rel in rels
        })
        keys = spark.createDataFrame(rows, "__fp string, __pos bigint")
        parts.append(
            _masked_target(spark, path, unmasked)
            .join(F.broadcast(keys), ["__fp", "__pos"])
            .select(*table_cols)
        )
    if not ins_parts and not del_parts:
        raise ValueError(
            f"no changes between versions {from_version} and "
            f"{state_to['version']}"
        )

    def _union(parts: list[DataFrame]) -> DataFrame | None:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    ins_raw, del_raw = _union(ins_parts), _union(del_parts)
    # NET the two sides (multiplicity-aware): a row a COW rewrite merely
    # MOVED between files shows up on both sides and is pure churn, not a
    # logical change — cancelling it makes replay order-independent and
    # makes a pure compaction's feed legitimately EMPTY
    if ins_raw is not None and del_raw is not None:
        ins_net = ins_raw.exceptAll(del_raw)
        del_net = del_raw.exceptAll(ins_raw)
    else:
        ins_net, del_net = ins_raw, del_raw
    pieces = [
        df.select(*table_cols, F.lit(kind).alias("_change_type"))
        for df, kind in ((ins_net, "insert"), (del_net, "delete"))
        if df is not None
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def vacuum_delta(
    path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    now_ms: int | None = None,
) -> list[str]:
    """VACUUM: physically delete files under the table root that the
    CURRENT snapshot no longer references and whose tombstone age exceeds
    ``retention_ms`` (delta-spark's default posture: 7 days). Two file
    classes are collected:

    - data files with a ``remove`` tombstone older than the retention
      cutoff (age = the tombstone's ``deletionTimestamp``);
    - deletion-vector files (``deletion_vector_*.bin``) referenced by NO
      live add action (superseded DVs have no tombstone of their own —
      their age is the file's mtime).

    Time travel to versions that needed a vacuumed file fails at scan
    time afterwards — the version history itself stays intact (vacuum
    never rewrites the log, matching the spec: data retention and log
    retention are independent). Returns the deleted paths (relative to
    the table root). Same single-writer scope as the other writers; a
    concurrent reader of an old snapshot can observe missing files, which
    is vacuum's documented tradeoff in every Delta engine."""
    from glob import glob as _glob

    from .roaring import z85_decode

    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to vacuum a Delta table created by another writer: "
            "use the delta-spark connector"
        )
    now = int(time.time() * 1000) if now_ms is None else now_ms
    cutoff = now - retention_ms

    live = state["live"]
    tombstone_ts = state["tombstones"]

    live_dvs: set[str] = set()
    for add in live.values():
        rel_dv = _dv_rel_path(add.get("deletionVector"))
        if rel_dv is not None:
            live_dvs.add(rel_dv)

    deleted: list[str] = []
    for f in sorted(
        _glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        rel = os.path.relpath(f, path).replace(os.sep, "/")
        if rel.startswith("_delta_log/") or rel in live:
            continue
        ts = tombstone_ts.get(rel)
        if ts is None:
            # untombstoned stray (e.g. crashed stage dir): age by mtime
            ts = int(os.path.getmtime(f) * 1000)
        if ts < cutoff:
            os.remove(f)
            deleted.append(rel)
    for f in sorted(
        _glob(os.path.join(path, "**", "deletion_vector_*.bin"), recursive=True)
    ):
        rel = os.path.relpath(f, path).replace(os.sep, "/")
        if rel in live_dvs:
            continue
        if int(os.path.getmtime(f) * 1000) < cutoff:
            os.remove(f)
            deleted.append(rel)
    return deleted


@recompute_on_conflict
def repartition_delta_table(
    spark,
    path: str,
    partition_by: tuple[str, ...],
    sort_by: tuple[str, ...] = (),
    zorder: bool = False,
) -> int:
    """LAYOUT MIGRATION — the Delta answer to Iceberg partition spec
    evolution (``iceberg.update_iceberg_partition_spec``). The Delta
    protocol pins ``metaData.partitionColumns`` and every add action
    carries that layout's ``partitionValues``, so changing the
    partitioning IS a rewrite: this verb rewrites the current LIVE rows
    (deletion vectors folded away) under the new ``partition_by``
    (LOGICAL column names; ``()`` un-partitions) and commits the new
    metaData + remove tombstones + adds as ONE version json — no reader
    or crash can observe mixed layouts. ``dataChange: false``
    throughout (rows are preserved, only rearranged), so streaming
    tailers skip the range exactly like an OPTIMIZE. Time travel below
    the migration resolves each version's own metaData, so pre-migration
    reads keep the old layout and pruning. Lost CAS races recompute
    (``commit.recompute_on_conflict``) with each run's staged files
    cleaned.

    At 100 TB this is the planned-downtime-free alternative to
    recreate-and-backfill: one distributed scan + partitioned write,
    KB-scale commit; the Iceberg twin is metadata-only because its spec
    travels per manifest — Delta buys simpler reader rules at the cost
    of this rewrite, which is exactly the trade the two formats
    document. Returns the committed version."""
    from pyspark.sql import functions as F

    state = _writer_state(path)
    meta = state["meta"]
    live = state["live"]
    table_cols = [
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    ]
    bad = [c for c in partition_by if c not in table_cols]
    if bad:
        raise ValueError(f"partition columns {bad} not in the schema")
    if list(partition_by) == list(meta.get("partitionColumns") or []):
        raise ValueError(
            f"table is already partitioned by {list(partition_by)}"
        )
    new_df = _masked_target(spark, path, state).select(*table_cols)
    if partition_by and not sort_by:
        # one task per target partition tuple → one file per Hive dir
        # (the optimize packing shape); sort_by/zorder shape the write
        # themselves via _stage_append's range exchange
        new_df = new_df.repartition(*[F.col(c) for c in partition_by])
    elif not partition_by and not sort_by:
        total = sum(e.get("size") or 0 for e in live.values())
        n = max(1, -(-total // (128 * 1024 * 1024)))
        new_df = new_df.coalesce(int(n))
    _, add_actions = _stage_append(
        new_df,
        path,
        sort_by=sort_by,
        zorder=zorder and len(sort_by) >= 2,
        repartition_to=tuple(partition_by),
    )
    # entry-state version+1, not _stage_append's fresh replay: the
    # metaData + remove set came from the entry state, so a writer
    # committing during the (long) distributed scan/write must trip the
    # CAS and recompute — absorbing it would strand its files with
    # old-layout partitionValues under the new metaData (r7 advisor).
    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "metaData": dict(
                meta, partitionColumns=list(partition_by)
            )
        }
    ]
    actions += [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": False,
            }
        }
        for rel in sorted(live)
    ]
    for a in add_actions:
        if "add" in a:
            a["add"]["dataChange"] = False
    actions += add_actions
    log_dir = os.path.join(path, "_delta_log")
    # recomputable: a lost CAS cleans this run's staged files and the
    # decorator re-runs the verb against the winner's head
    commit_with_retry(
        lambda _written: _commit_version(log_dir, version, actions),
        attempts=1,
        staged=_staged_files(path, add_actions),
    )
    return version


@recompute_on_conflict
def optimize_delta_table(
    spark,
    path: str,
    min_files: int = 2,
    zorder_by: tuple[str, ...] = (),
) -> int | None:
    """OPTIMIZE — bin-packing compaction, the Delta twin of
    ``iceberg.rewrite_iceberg_table``: rewrite the table's LIVE rows
    (deletion vectors folded away — masked rows leave the physical
    files) into fresh files and commit removes + adds as one version
    json with ``dataChange: false`` throughout — the spec's marker for
    data-preserving rearrangement. Streaming consumers use that marker:
    :class:`~..streaming.ops.DeltaTailer` skips a pure-optimize range
    instead of erroring or re-emitting compacted rows, exactly like
    delta-spark's source skips OPTIMIZE commits. ``zorder_by``
    Morton-clusters the rewrite (``sources/zorder.py``) so per-file
    stats prune on every listed column afterwards. No-op (returns None)
    when the table holds fewer than ``min_files`` live files and no
    live deletion vector. One distributed scan + write; vacuum later
    deletes the superseded files past retention. Returns the committed
    version."""
    state = _writer_state(path)
    live = state["live"]
    has_dv = any(e.get("deletionVector") for e in live.values())
    if len(live) < min_files and not has_dv:
        return None
    table_cols = [
        f["name"]
        for f in json.loads(state["meta"]["schemaString"])["fields"]
    ]
    new_df = _masked_target(spark, path, state).select(*table_cols)
    part_cols = state["meta"].get("partitionColumns") or []
    if not zorder_by:
        # actually PACK: the masked scan's task layout mirrors the small
        # input files, so an unshaped write reproduces the fragmentation.
        # Partitioned tables collapse to one task per partition tuple
        # (one file per Hive dir); unpartitioned tables coalesce to a
        # byte-budget file count (~128 MiB target — the narrow no-shuffle
        # path). zorder_by shapes the write itself (range exchange).
        if part_cols:
            from pyspark.sql import functions as F

            new_df = new_df.repartition(*[F.col(c) for c in part_cols])
        else:
            total = sum(e.get("size") or 0 for e in live.values())
            n = max(1, -(-total // (128 * 1024 * 1024)))
            new_df = new_df.coalesce(int(n))
    _, add_actions = _stage_append(
        new_df,
        path,
        sort_by=zorder_by,
        # a single cluster column is plain range clustering; Morton
        # interleave needs >= 2 (zorder.py enforces it)
        zorder=len(zorder_by) >= 2,
    )
    # entry-state version+1 (not _stage_append's re-derived version): the
    # remove set came from the entry state, so an interleaved writer must
    # trip the CAS and recompute rather than be absorbed (r7 advisor).
    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": False,
            }
        }
        for rel in sorted(live)
    ]
    for a in add_actions:
        if "add" in a:
            a["add"]["dataChange"] = False
    # OPTIMIZE is recomputable maintenance (the Delta twin of
    # rewrite_iceberg_table's auto-retry): a lost CAS cleans this run's
    # staged compacted files and the decorator re-runs the whole verb
    # against the winner's head
    commit_with_retry(
        lambda _written: _commit_version(
            os.path.join(path, "_delta_log"), version, removes + add_actions
        ),
        attempts=1,
        staged=_staged_files(path, add_actions),
    )
    return version


def checkpoint_delta_table(path: str) -> int:
    """Write a CLASSIC single-file parquet checkpoint of the table's
    CURRENT version (PROTOCOL.md "Checkpoints"): one row per action —
    the latest ``protocol`` and ``metaData``, the latest ``txn`` per
    appId, every live ``add`` (deletion-vector descriptors included),
    and every un-vacuumed ``remove`` tombstone — then atomically point
    ``_last_checkpoint`` at it. Readers (ours and delta-spark's) seed
    replay from the checkpoint and only walk JSON commits above it, so
    log replay cost stops growing with table history; at 100 TB /
    thousands of commits this is what keeps snapshot construction O(tail)
    instead of O(all history). The JSON commits are NOT deleted here —
    :func:`cleanup_delta_log` does that separately (losing time travel
    below the checkpoint, exactly like delta-spark's log retention).

    Same single-writer scope as the other writers; refuses foreign
    tables. Returns the checkpointed version. Driver-side pyarrow write
    (KB/MB-scale metadata)."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    log_dir = os.path.join(path, "_delta_log")
    state = _replay_state(log_dir)
    if state["version"] is None:
        raise FileNotFoundError(f"no Delta table at {path}")
    meta = state["meta"]
    if not meta or (meta.get("configuration") or {}).get(
        "writer"
    ) != _WRITER_TAG:
        raise NotImplementedError(
            "refusing to checkpoint a Delta table created by another "
            "writer: use the delta-spark connector"
        )
    version = state["version"]

    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", dv_t),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            (
                "format",
                pa.struct(
                    [
                        ("provider", pa.string()),
                        ("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )

    protocol = state["protocol"] or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    rows: list[dict] = [{"protocol": protocol}, {"metaData": meta}]
    for app_id in sorted(state["txns"]):
        rows.append(
            {"txn": {"appId": app_id, "version": state["txns"][app_id]}}
        )
    for rel in sorted(state["live"]):
        add = state["live"][rel]
        rows.append(
            {
                "add": {
                    "path": add["path"],
                    "partitionValues": add.get("partitionValues") or {},
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": False,
                    "deletionVector": add.get("deletionVector"),
                    "stats": add.get("stats"),
                }
            }
        )
    for rel in sorted(state["tombstones"]):
        rows.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": state["tombstones"][rel],
                    "dataChange": False,
                }
            }
        )
    table = pa.table(
        {
            "txn": pa.array([r.get("txn") for r in rows], type=txn_t),
            "add": pa.array([r.get("add") for r in rows], type=add_t),
            "remove": pa.array(
                [r.get("remove") for r in rows], type=remove_t
            ),
            "metaData": pa.array(
                [r.get("metaData") for r in rows], type=meta_t
            ),
            "protocol": pa.array(
                [r.get("protocol") for r in rows], type=proto_t
            ),
        }
    )
    cp_path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp_cp = cp_path + f".{uuid.uuid4().hex[:8]}.tmp"
    _pq.write_table(table, tmp_cp)
    os.replace(tmp_cp, cp_path)
    lc = os.path.join(log_dir, "_last_checkpoint")
    tmp = lc + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"version": version, "size": len(rows)}))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, lc)
    return version


def cleanup_delta_log(path: str) -> list[int]:
    """Delete JSON commit files AT OR BELOW the last checkpoint version
    (delta-spark's metadata cleanup): the checkpoint carries the complete
    state, so the table stays fully readable and writable at HEAD — but
    time travel to the removed versions is gone, which is the documented
    tradeoff of log retention in every Delta engine. Refuses tables with
    no checkpoint. Returns the removed version numbers."""
    log_dir = os.path.join(path, "_delta_log")
    cp_v = _checkpoint_version(log_dir)
    if cp_v is None:
        raise ValueError(
            f"no checkpoint at {path}: run checkpoint_delta_table first"
        )
    removable = [v for v in _log_versions(log_dir) if v <= cp_v]
    # IN-COMMIT TIMESTAMPS: the monotone chain clamps against the PARENT
    # commit's ICT (O(1) file read in _commit_version), so an enabled
    # table must keep its newest at-or-below-checkpoint commit — one
    # KB-scale file preserves the chain across cleanup; everything
    # below it still goes
    if removable and _prev_in_commit_ts(log_dir, removable[-1] + 1) is not None:
        removable = removable[:-1]
    removed = []
    for v in removable:
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
        removed.append(v)
    return removed


def delta_history(spark, path: str) -> DataFrame:
    """DESCRIBE HISTORY for the minimal writer's tables: one row per
    committed version with its action counts, inferred operation, and
    any transaction identifier — the operational surface delta-spark
    exposes as ``DESCRIBE HISTORY`` (PROTOCOL.md actions; commitInfo is
    optional in the protocol, so the operation is derived from the
    action mix). ``commit_ts_ms`` prefers the spec's
    ``inCommitTimestamp`` (ICT-enabled tables, round 10), then the
    informational ``commitInfo.timestamp`` (every commit this writer
    makes since round 8), else the commit file's mtime — the same
    preference ``as_of_ms`` time travel uses. Driver-side JSON walk — one KB-scale
    row per commit — then a bounded createDataFrame."""
    log_dir = os.path.join(path, "_delta_log")
    versions = _log_versions(log_dir)
    cp_v = _checkpoint_version(log_dir)
    if not versions and cp_v is None:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    rows = []
    # history truncated below a checkpoint (cleanup_delta_log): one
    # synthetic row stands in for the compacted prefix
    if cp_v is not None and (not versions or versions[0] > cp_v):
        cp = os.path.join(log_dir, f"{cp_v:020d}.checkpoint.parquet")
        rows.append(
            (
                cp_v,
                int(os.path.getmtime(cp) * 1000),
                "CHECKPOINT (earlier history truncated)",
                0,
                0,
                None,
                None,
            )
        )
    for v in versions:
        fp = os.path.join(log_dir, f"{v:020d}.json")
        n_add = n_remove = 0
        has_meta = False
        txn_app = None
        txn_ver = None
        dv_adds = 0
        ts_ms = None
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                act = json.loads(line)
                if "commitInfo" in act:
                    # presence test, not truthiness (an ICT of 0 counts)
                    t = act["commitInfo"].get("inCommitTimestamp")
                    if t is None:
                        t = act["commitInfo"].get("timestamp")
                    if t is not None:
                        ts_ms = int(t)
                if "add" in act:
                    n_add += 1
                    if act["add"].get("deletionVector"):
                        dv_adds += 1
                elif "remove" in act:
                    n_remove += 1
                elif "metaData" in act:
                    has_meta = True
                elif "txn" in act:
                    txn_app = act["txn"].get("appId")
                    txn_ver = act["txn"].get("version")
        if v == 0:
            op = "CREATE TABLE AS APPEND"
        elif dv_adds and n_remove:
            op = "DELETE (deletion vectors)"
        elif n_add and n_remove:
            op = "OVERWRITE"
        elif n_add:
            op = "APPEND"
        elif n_remove:
            op = "DELETE"
        else:
            op = "METADATA" if has_meta else "EMPTY"
        rows.append(
            (
                v,
                ts_ms if ts_ms is not None
                else int(os.path.getmtime(fp) * 1000),
                op,
                n_add,
                n_remove,
                txn_app,
                txn_ver,
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, commit_ts_ms long, operation string, "
        "n_added_files long, n_removed_files long, "
        "txn_app_id string, txn_version long",
    )
