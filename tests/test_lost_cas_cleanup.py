"""A data verb that loses EVERY compare-and-swap attempt must leave the
table tree exactly as it found it: every staged data file, delete file,
deletion-vector bin, manifest and manifest list is removed before the
conflict propagates. One case per verb (delete, merge, update) and
format (Delta, Iceberg). The CAS is forced to lose by patching the
format's commit function; validation still passes (the head never
moves), so each verb exhausts its whole retry budget."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources import iceberg as ice


def _df(spark, ids):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id bigint, val string"
    )


def _tree(root):
    out = set()
    for base, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            out.add((os.path.relpath(p, root), os.path.getsize(p)))
    return out


VERBS = {
    ("delta", "delete"): lambda spark, root: dl.delete_delta_rows(
        spark, root, "id < 5"
    ),
    ("delta", "merge"): lambda spark, root: dl.merge_delta_rows(
        spark, root, _df(spark, [3, 4, 25]), on=["id"]
    ),
    ("delta", "update"): lambda spark, root: dl.update_delta_rows(
        spark, root, "id = 1", {"val": "'U'"}
    ),
    ("iceberg", "delete"): lambda spark, root: (
        ice.write_iceberg_position_deletes(spark, root, F.col("id") < 5)
    ),
    ("iceberg", "merge"): lambda spark, root: ice.merge_iceberg_rows(
        spark, root, _df(spark, [3, 4, 25]), on=["id"]
    ),
    ("iceberg", "update"): lambda spark, root: ice.update_iceberg_rows(
        spark, root, "id = 1", {"val": "'U'"}
    ),
}


@pytest.mark.parametrize(
    "fmt,verb", sorted(VERBS), ids=[f"{f}-{v}" for f, v in sorted(VERBS)]
)
def test_verb_losing_every_cas_leaves_table_tree_unchanged(
    spark, tmp_path, monkeypatch, fmt, verb
):
    root = str(tmp_path / "t")
    if fmt == "delta":
        dl.write_delta_append(_df(spark, range(20)), root)

        def always_lose(log_dir, version, actions):
            raise dl.DeltaCommitConflict("simulated sustained contention")

        monkeypatch.setattr(dl, "_commit_version", always_lose)
        conflict = dl.DeltaCommitConflict
    else:
        ice.write_iceberg_append(_df(spark, range(20)), root)

        def always_lose(meta_dir, prev_ver, new_meta):
            raise ice.IcebergCommitConflict("simulated sustained contention")

        monkeypatch.setattr(ice, "_commit_metadata", always_lose)
        conflict = ice.IcebergCommitConflict
    monkeypatch.setattr(time, "sleep", lambda s: None)
    before = _tree(root)

    with pytest.raises(conflict):
        VERBS[fmt, verb](spark, root)

    assert _tree(root) == before
