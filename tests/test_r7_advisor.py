"""Round-6 advisor regression tests (ADVICE.md, round 7 fixes):

1. pinned-offset/offset files are fsynced before the atomic rename
   (power-loss durability, not just process-crash durability);
2. lost maintenance CAS races clean their own staged files (no orphan
   pile-up across retries) and attempts are spaced by jittered backoff;
3. ``lsh_bucketed_topk``'s Arrow bucket UDF tolerates NULL / wrong-dim
   embeddings (buckets to NULL, row dropped) like the expression form
   it replaced;
4. ``bench.shrink_final_line`` degrades an oversized final JSON line to
   scalars-only instead of crashing the whole perf record;
5. ``pagerank`` drops NULL-endpoint edges deliberately, so |V|, the
   teleport base, and the join keys all agree.
"""

from __future__ import annotations

import json
import os

import pytest

from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.commit import commit_with_retry
from mysoftware_nocnetintel_spark.sources.iceberg import (
    IcebergCommitConflict,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    write_iceberg_append,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id bigint, val string"
    )


def _tree(root):
    out = set()
    for base, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.path.join(base, f))
    return out


# ---------------------------------------------------------------- 1. fsync


def test_pinned_offset_write_fsyncs_before_replace(tmp_path, monkeypatch):
    from mysoftware_nocnetintel_spark.streaming import ops as sops

    calls: list[tuple[str, int]] = []
    real_fsync = os.fsync
    real_replace = os.replace

    def spy_fsync(fd):
        calls.append(("fsync", fd))
        return real_fsync(fd)

    def spy_replace(a, b):
        calls.append(("replace", 0))
        return real_replace(a, b)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)

    dst = str(tmp_path / "offset.json")
    tmp = dst + ".t.tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": 7}, fh)
    sops._durable_replace(tmp, dst)

    kinds = [k for k, _ in calls]
    # data fsync BEFORE the rename, directory fsync AFTER
    assert kinds == ["fsync", "replace", "fsync"]
    with open(dst) as fh:
        assert json.load(fh) == {"version": 7}
    assert not os.path.exists(tmp)


def test_tailer_offsets_round_trip_through_durable_replace(spark, tmp_path):
    """Behavioral no-change check: the mixin's write/read/clear cycle
    still works end-to-end through the fsync path."""
    from mysoftware_nocnetintel_spark.streaming.ops import _PinnedOffsetMixin

    class T(_PinnedOffsetMixin):
        def __init__(self, f):
            self._pending_file = f

    t = T(str(tmp_path / "pin.json"))
    assert t._read_pinned("version") is None
    t._write_pinned("version", 41)
    t._write_pinned("version", 42)
    assert t._read_pinned("version") == 42
    t._clear_pinned()
    assert t._read_pinned("version") is None


# ----------------------------------------- 2. lost-CAS staged-file cleanup


def test_lost_rewrite_cleans_staged_files(spark, tmp_path, monkeypatch):
    """A compaction that loses every CAS attempt must strand ZERO staged
    bytes: data files, manifests, and the manifest list of each losing
    attempt are deleted before the conflict propagates."""
    root = str(tmp_path / "t")
    for lo in (0, 5, 10):
        write_iceberg_append(_df(spark, lo, lo + 5), root)
    before = _tree(root)

    def always_lose(meta_dir, prev_ver, new_meta):
        raise IcebergCommitConflict("simulated sustained contention")

    monkeypatch.setattr(ice, "_commit_metadata", always_lose)
    with pytest.raises(IcebergCommitConflict):
        rewrite_iceberg_table(spark, root)
    monkeypatch.undo()

    assert _tree(root) == before  # no orphans from any of the 3 attempts


def test_lost_manifest_rewrite_cleans_staged_manifests(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    for lo in (0, 5, 10, 15):
        write_iceberg_append(_df(spark, lo, lo + 5), root)
    before = _tree(root)

    def always_lose(meta_dir, prev_ver, new_meta):
        raise IcebergCommitConflict("simulated sustained contention")

    monkeypatch.setattr(ice, "_commit_metadata", always_lose)
    with pytest.raises(IcebergCommitConflict):
        rewrite_iceberg_manifests(root, min_manifests=2)
    monkeypatch.undo()

    assert _tree(root) == before


def test_retry_on_conflict_backs_off_between_attempts(monkeypatch):
    import time as _time

    sleeps: list[float] = []
    monkeypatch.setattr(_time, "sleep", lambda s: sleeps.append(s))

    calls = {"n": 0}

    def flaky(_written):
        calls["n"] += 1
        if calls["n"] < 3:
            raise IcebergCommitConflict("lost")
        return "won"

    assert commit_with_retry(flaky) == "won"
    assert calls["n"] == 3
    # jittered, bounded, GROWING windows: attempt 2 in [0, 0.1),
    # attempt 3 in [0, 0.2)
    assert len(sleeps) == 2
    assert all(0 <= s < 0.25 for s in sleeps)


# -------------------------------------------------- 3. LSH null tolerance


def test_lsh_topk_tolerates_null_and_ragged_embeddings(spark):
    from mysoftware_nocnetintel_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((100, None))  # NULL embedding
    rows.append((101, [1.0, 2.0]))  # wrong dimensionality
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, rows[3][1])], "qid bigint, qv array<double>"
    )
    got = lsh_bucketed_topk(
        corpus, queries, dim=8, k=5, n_planes=4, multiprobe=1, n_tables=2
    ).collect()
    assert got, "statement must survive null/ragged vectors"
    ids = {r.vec_id for r in got}
    assert 100 not in ids and 101 not in ids
    assert rows[3][0] in ids  # the query's own vector is its top hit


# ------------------------------------------------- 4. bench line shrinking


def test_shrink_final_line_passthrough_and_degrade():
    import bench

    small = json.dumps({"metric": "x", "value": 1.0, "queries": {"q1": 0.1}})
    assert bench.shrink_final_line(small) is small

    big = json.dumps(
        {
            "metric": "headline_queries_concurrent_batch_wall",
            "value": 1.23,
            "unit": "sec",
            "seq_total": 2.5,
            "queries": {f"q{i}": 0.1 for i in range(200)},
            "pipeline": {f"q{i}": 0.1 for i in range(100)},
            "pipeline_duckdb": {f"q{i}": 0.1 for i in range(100)},
            "sf1": {"seq_total": 3.4, "queries": {f"q{i}": 1 for i in range(99)}},
            "sf": 0.1,
        }
    )
    assert len(big) >= 1800
    out = bench.shrink_final_line(big)
    assert len(out) < 1800
    obj = json.loads(out)
    assert obj["truncated"] is True
    assert obj["value"] == 1.23 and obj["seq_total"] == 2.5
    assert "queries" not in obj and "pipeline" not in obj
    assert obj["sf1"] == {"seq_total": 3.4}  # nested maps dropped, scalars kept


# ------------------------------------------------ 5. pagerank null edges


def test_pagerank_drops_null_endpoint_edges(spark):
    from mysoftware_nocnetintel_spark.operators.graph import pagerank

    clean = [(1, 2), (2, 3), (3, 1), (1, 3)]
    dirty = clean + [(None, 2), (3, None), (None, None)]
    df_clean = spark.createDataFrame(clean, "src bigint, dst bigint")
    df_dirty = spark.createDataFrame(dirty, "src bigint, dst bigint")

    a = {r.node: r.r for r in pagerank(df_clean, num_iters=5).collect()}
    b = {r.node: r.r for r in pagerank(df_dirty, num_iters=5).collect()}
    assert set(a) == set(b) == {1, 2, 3}
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12
