"""The directory-publish protocol (sources/publish.py): a rename that
fails at any step leaves the complete old version, a writer that dies
at any step is recovered on the next lock entry, and every mutating
entry point takes the table's lock."""

from __future__ import annotations

import glob
import os

import pytest

from bodo_spark.sources import publish as P


def _tree(root):
    """{relative file path: content} of a directory tree."""
    out = {}
    for r, _d, files in os.walk(root):
        for fn in files:
            fp = os.path.join(r, fn)
            with open(fp) as f:
                out[os.path.relpath(fp, root)] = f.read()
    return out


def _put(root, files):
    for rel, body in files.items():
        fp = os.path.join(root, rel)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        with open(fp, "w") as f:
            f.write(body)


def _tree_bytes(root):
    return {os.path.relpath(os.path.join(r, f), root):
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(root) for f in fs}


def _clean(path):
    return (not glob.glob(f"{path}.__cow_*")
            and not os.path.exists(f"{path}.__lock"))


OLD = {"a.parquet": "old-a", "p=1/x.parquet": "old-1",
       "p=2/x.parquet": "old-2", "archive/gen-0000/a.parquet": "g0"}
NEW = {"b.parquet": "new-b", "p=1/x.parquet": "new-1",
       "p=3/x.parquet": "new-3"}


class _Crash(BaseException):
    """Stands in for the writer process dying."""


def _fail_at(monkeypatch, n, exc=OSError):
    real, calls = P._rename, [0]

    def rename(src, dst):
        calls[0] += 1
        if calls[0] == n:
            raise exc(f"injected rename failure #{n}")
        real(src, dst)
    monkeypatch.setattr(P, "_rename", rename)


def _publisher(path, which):
    """(publish callable, expected tree after success)."""
    part_new = {k: v for k, v in NEW.items() if k.startswith("p=")}
    after_parts = {"a.parquet": "old-a", "p=1/x.parquet": "new-1",
                   "p=3/x.parquet": "new-3",
                   "archive/gen-0000/a.parquet": "g0"}
    after_retain = dict(NEW, **{"archive/gen-0000/a.parquet": "g0"})
    after_retain.update({f"archive/gen-0001/{k}": v for k, v in OLD.items()
                         if not k.startswith("archive/")})
    return {
        "dir": (lambda: P.publish_dir(
            path, lambda st: _put(st, NEW), owner="t"), NEW),
        "dir_retained": (lambda: P.publish_dir(
            path, lambda st: _put(st, NEW), owner="t",
            retain_history=True), after_retain),
        "partitions": (lambda: P.publish_partitions(
            path, lambda st: _put(st, part_new),
            ["p=1", "p=2", "p=3"], owner="t"), after_parts),
    }[which]


@pytest.mark.parametrize("which", ["dir", "dir_retained", "partitions"])
def test_rename_failure_at_every_step_keeps_old_version(
        tmp_path, monkeypatch, which):
    path = str(tmp_path / "tbl")
    _put(path, OLD)
    run, after = _publisher(path, which)
    steps = 0
    while True:
        with monkeypatch.context() as m:
            _fail_at(m, steps + 1)
            try:
                run()
            except OSError:
                steps += 1
                assert _tree(path) == OLD, f"step {steps}"
                assert _clean(path), f"step {steps}"
                continue
        break
    assert steps >= 2
    assert _tree(path) == after and _clean(path)


@pytest.mark.parametrize("which", ["dir", "dir_retained", "partitions"])
def test_crash_at_every_step_recovered_on_lock_entry(
        tmp_path, monkeypatch, which):
    path = str(tmp_path / "tbl")
    _put(path, OLD)
    run, after = _publisher(path, which)
    steps = 0
    while True:
        with monkeypatch.context() as m:
            _fail_at(m, steps + 1, exc=_Crash)

            def dead(moves):
                raise _Crash("writer died before undoing")
            m.setattr(P, "_undo", dead)
            try:
                run()
            except _Crash:
                steps += 1
            else:
                break
        assert glob.glob(f"{path}.__cow_*")  # the dead writer's state
        with P.publish_lock(path, owner="next"):
            pass
        assert _tree(path) == OLD, f"step {steps}"
        assert _clean(path), f"step {steps}"
    assert steps >= 2
    assert _tree(path) == after and _clean(path)


def test_live_missing_backup_present_is_restored(tmp_path):
    """The crash window between the two renames of a whole-directory
    swap, built by hand: the next publish restores the backup before
    staging and leaves no sibling behind."""
    path = str(tmp_path / "tbl")
    _put(path, OLD)
    os.rename(path, f"{path}.__cow_backup_dead0001")
    _put(f"{path}.__cow_staging_dead0002", {"half.parquet": "torn"})
    seen = {}

    def write(staging):
        seen.update(_tree(path))
        _put(staging, NEW)
    assert P.publish_dir(path, write, owner="t") is None
    assert seen == OLD
    assert _tree(path) == NEW and _clean(path)


def test_cow_publish_rename_failure_and_crash_state(spark, tmp_path,
                                                     monkeypatch):
    from bodo_spark.operators.merge import cow_publish
    p = str(tmp_path / "tbl")
    spark.range(5).write.parquet(p)
    for n in (1, 2):
        with monkeypatch.context() as m:
            _fail_at(m, n)
            with pytest.raises(OSError):
                cow_publish(spark.range(3), p)
        assert spark.read.parquet(p).count() == 5 and _clean(p)
    os.rename(p, f"{p}.__cow_backup_dead0001")
    with P.publish_lock(p, owner="next"):
        pass
    assert spark.read.parquet(p).count() == 5 and _clean(p)
    cow_publish(spark.range(3), p)
    assert spark.read.parquet(p).count() == 3 and _clean(p)


def test_partition_merge_rename_failure_at_every_step(spark, tmp_path,
                                                      monkeypatch):
    from pyspark.sql import functions as F

    from bodo_spark.operators.merge import (merge_into_partitioned,
                                            write_bucket_partitioned)
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, bal double"),
        path, ["k"], 4)

    def rows():
        return sorted(map(tuple, spark.read.parquet(path)
                          .select("k", "bal").collect()))
    before = rows()
    src = spark.createDataFrame([(1, 100.0), (2, 200.0), (50, 5.0)],
                                "k long, add double")

    def merge():
        return merge_into_partitioned(
            spark, path, src, ["k"], n_buckets=4,
            when_matched_update={"bal": F.col("src_add")},
            when_not_matched_insert={"k": F.col("src_k"),
                                     "bal": F.col("src_add")})
    n = 0
    while True:
        with monkeypatch.context() as m:
            _fail_at(m, n + 1)
            try:
                merge()
            except OSError:
                n += 1
                assert rows() == before and _clean(path), f"step {n}"
                continue
        break
    assert n >= 2
    got = dict(rows())
    assert got[1] == 100.0 and got[2] == 200.0 and got[50] == 5.0


def test_compaction_and_bloom_append_take_the_lock(spark, tmp_path):
    """compact_parquet and append_bloom_index (append and compaction)
    mutate their directories, so a held lock makes them raise."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import bloom as B
    from bodo_spark.sources.io import compact_parquet
    t = str(tmp_path / "trickle")
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(t)
    idx = str(tmp_path / "bloom")
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    B.write_bloom_index(docs, idx, F.md5("text"), m_bits=256, k=3)
    t_before, idx_before = _tree_bytes(t), _tree_bytes(idx)
    with P.publish_lock(t, owner="holder"), \
            P.publish_lock(idx, owner="holder"):
        with pytest.raises(P.ConcurrentWriteError, match="holder"):
            compact_parquet(spark, t)
        for compact in (False, True):
            with pytest.raises(P.ConcurrentWriteError, match="holder"):
                B.append_bloom_index(docs, idx, F.md5("text"), m_bits=256,
                                     k=3, compact_after=compact)
    assert _tree_bytes(t) == t_before and _tree_bytes(idx) == idx_before
    assert compact_parquet(spark, t) == 1
    B.append_bloom_index(docs, idx, F.md5("text"), m_bits=256, k=3,
                         compact_after=True)
    assert _clean(t) and _clean(idx)
