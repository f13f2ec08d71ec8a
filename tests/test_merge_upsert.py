"""W5 MERGE shim: keyed upsert over a bucketed snapshot table with
bucket-level copy-on-write commits — updates win, untouched bucket files
are not rewritten, and a failed or raced operation commits nothing."""

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import with_bucket
from no_ocr_spark.sources import snaptable as st
from no_ocr_spark.sources.merge import delete_keys, merge_upsert, read_merged

_PARQUET = os.path.join("data", "*", "bucket=*", "*.parquet")


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, status string, v bigint")


def _files(spark, path):
    return st.history(spark, path)[-1]["files"]


def _rows(spark, path):
    return sorted(tuple(r) for r in read_merged(spark, path).collect())


def test_merge_upserts_and_inserts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl")) + "/t"
    base = _mk(spark, [(i, "pending", i * 10) for i in range(100)])
    merge_upsert(spark, path, base, key="k", n_buckets=8)
    assert read_merged(spark, path).count() == 100

    upd = _mk(spark, [(5, "done", 555), (7, "done", 777), (200, "new", 1)])
    res = merge_upsert(spark, path, upd, key="k", n_buckets=8)
    assert res["n_updates"] == 3

    got = {r.k: (r.status, r.v) for r in read_merged(spark, path).collect()}
    assert len(got) == 101  # 100 originals + 1 insert, no dup keys
    assert got[5] == ("done", 555)
    assert got[7] == ("done", 777)
    assert got[200] == ("new", 1)
    assert got[6] == ("pending", 60)  # untouched row survives


def test_merge_rewrites_only_touched_buckets(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl2")) + "/t"
    base = _mk(spark, [(i, "pending", i) for i in range(200)])
    merge_upsert(spark, path, base, key="k", n_buckets=8)

    before = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(path, _PARQUET))}
    entries_before = _files(spark, path)

    upd = _mk(spark, [(3, "done", 33)])
    res = merge_upsert(spark, path, upd, key="k", n_buckets=8)
    assert len(res["touched_buckets"]) == 1
    (tb,) = res["touched_buckets"]

    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(path, _PARQUET))}
    for f, mt in after.items():
        in_touched = f"bucket={tb}" in f
        if not in_touched:
            assert before[f] == mt, f"untouched bucket file rewritten: {f}"
    # the touched bucket WAS rewritten (new file or new mtime)
    touched_files = [f for f in after if f"bucket={tb}" in f]
    assert any(f not in before or before[f] != after[f] for f in touched_files)
    # the committed file list keeps every untouched bucket's entry as it
    # was and swaps only the touched one
    entries_after = _files(spark, path)
    untouched = [e for e in entries_before if not e.endswith(f"/bucket={tb}")]
    assert [e for e in entries_after
            if not e.endswith(f"/bucket={tb}")] == untouched
    (new_leaf,) = set(entries_after) - set(entries_before)
    assert new_leaf.endswith(f"/bucket={tb}")


def test_merge_dedupes_same_key_within_batch(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl3")) + "/t"
    upd = _mk(spark, [(1, "a", 1), (1, "b", 2)])
    merge_upsert(spark, path, upd, key="k", n_buckets=4)
    rows = read_merged(spark, path).collect()
    assert len(rows) == 1
    assert rows[0].status == "b" and rows[0].v == 2  # max-struct wins


def test_delete_keys_targeted(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl4")) + "/t"
    base = _mk(spark, [(i, "pending", i) for i in range(200)])
    merge_upsert(spark, path, base, key="k", n_buckets=8)

    before = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(path, _PARQUET))}

    doomed = spark.createDataFrame([(3,), (17,), (42,)], "k bigint")
    res = delete_keys(spark, path, doomed, key="k", n_buckets=8)
    assert res["n_deleted"] == 3

    got = read_merged(spark, path)
    assert got.count() == 197
    assert got.filter(got.k.isin([3, 17, 42])).count() == 0
    # untouched buckets' files not rewritten
    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(path, _PARQUET))}
    touched = {f"bucket={b}" for b in res["touched_buckets"]}
    for f, mt in after.items():
        if not any(t in f for t in touched):
            assert before[f] == mt, f"untouched bucket rewritten: {f}"


def test_delete_keys_empties_whole_bucket(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl5")) + "/t"
    base = _mk(spark, [(i, "x", i) for i in range(50)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)
    # delete EVERY key of one bucket: its entry must leave the table
    bucketed = with_bucket(read_merged(spark, path), 4, url_col="k")
    some_bucket = bucketed.select("bucket").first().bucket
    doomed_keys = [
        (r.k,) for r in
        bucketed.filter(F.col("bucket") == some_bucket).select("k").collect()
    ]
    res = delete_keys(spark, path, spark.createDataFrame(doomed_keys, "k bigint"),
                      key="k", n_buckets=4)
    assert res["n_deleted"] == len(doomed_keys) > 0
    got = with_bucket(read_merged(spark, path), 4, url_col="k")
    assert got.filter(F.col("bucket") == some_bucket).count() == 0
    assert got.count() == 50 - len(doomed_keys)
    assert not [e for e in _files(spark, path)
                if e.endswith(f"/bucket={some_bucket}")]


def test_delete_on_fully_emptied_table_is_noop(spark, tmp_path_factory):
    """A delete of every key commits a version with no entries: it reads
    as 0 rows with the table's columns, a further delete_keys returns
    n_deleted=0, and the table takes upserts again."""
    path = str(tmp_path_factory.mktemp("tbl_empty")) + "/t"
    base = _mk(spark, [(i, "x", i) for i in range(20)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)

    everything = spark.range(20).select(F.col("id").alias("k"))
    res = delete_keys(spark, path, everything, key="k", n_buckets=4)
    assert res["n_deleted"] == 20
    assert _files(spark, path) == []
    empty = read_merged(spark, path)
    assert empty.columns == ["k", "status", "v"]
    assert empty.count() == 0

    again = delete_keys(spark, path, everything, key="k", n_buckets=4)
    assert again["n_deleted"] == 0

    # and the table is usable again afterwards
    merge_upsert(spark, path, _mk(spark, [(1, "y", 9)]), key="k", n_buckets=4)
    assert read_merged(spark, path).count() == 1


# ------------------------------------------- crash safety and concurrency


def _crash_at_commit(monkeypatch):
    def crash(*_args):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(st, "_commit", crash)


def _data_dirs(path):
    return set(os.listdir(os.path.join(path, "data")))


def test_upsert_crash_before_commit_keeps_previous_version(
        spark, tmp_path_factory, monkeypatch):
    """A crash after the data write and before the commit leaves the
    previous version as the table, and vacuum removes the orphan dir."""
    path = str(tmp_path_factory.mktemp("tbl6")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "pending", i) for i in range(40)]),
                 key="k", n_buckets=4)
    prev, v, dirs = _rows(spark, path), st.current_version(spark, path), \
        _data_dirs(path)

    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_upsert(spark, path, _mk(spark, [(7, "done", 777), (300, "new", 1)]),
                     key="k", n_buckets=4)
    monkeypatch.undo()

    (orphan,) = _data_dirs(path) - dirs  # the data write did land
    assert st.current_version(spark, path) == v
    assert _rows(spark, path) == prev
    # age it past the bound that spares writes still committing
    aged = time.time() - st._ORPHAN_MIN_AGE_S - 60
    os.utime(os.path.join(path, "data", orphan), (aged, aged))
    res = st.vacuum(spark, path, keep_versions=1)
    assert res["removed_data_dirs"] == [f"data/{orphan}"]
    assert _rows(spark, path) == prev


def test_delete_crash_before_commit_keeps_previous_version(
        spark, tmp_path_factory, monkeypatch):
    """A delete that would empty a bucket crashes before its commit: every
    row stays readable, nothing half-applied."""
    path = str(tmp_path_factory.mktemp("tbl8")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "x", i) for i in range(50)]),
                 key="k", n_buckets=4)
    prev, entries = _rows(spark, path), _files(spark, path)
    bucketed = with_bucket(read_merged(spark, path), 4, url_col="k")
    some_bucket = bucketed.select("bucket").first().bucket
    doomed = [(r.k,) for r in bucketed.filter(
        F.col("bucket") == some_bucket).select("k").collect()]

    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_keys(spark, path, spark.createDataFrame(doomed, "k bigint"),
                    key="k", n_buckets=4)
    monkeypatch.undo()

    assert _files(spark, path) == entries
    assert _rows(spark, path) == prev


def test_merge_racing_a_commit_conflict_fails(spark, tmp_path_factory,
                                              monkeypatch):
    """Another commit landing between a merge's read and its commit makes
    the merge fail instead of dropping that commit's rows."""
    path = str(tmp_path_factory.mktemp("tbl_race")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "old", i) for i in range(10)]),
                 key="k", n_buckets=2)
    orig = st._commit

    def racing(*args):
        monkeypatch.setattr(st, "_commit", orig)
        merge_upsert(spark, path, _mk(spark, [(i, "rival", -i)
                                              for i in range(10)]),
                     key="k", n_buckets=2)
        return orig(*args)

    monkeypatch.setattr(st, "_commit", racing)
    with pytest.raises(IOError, match="concurrent commit"):
        merge_upsert(spark, path, _mk(spark, [(1, "mine", 1)]),
                     key="k", n_buckets=2)
    assert st.current_version(spark, path) == 2
    assert {r.status for r in read_merged(spark, path).collect()} == {"rival"}


def test_vacuum_spares_a_write_whose_commit_is_in_flight(
        spark, tmp_path_factory, monkeypatch):
    """A vacuum that runs between a merge's data write and its commit
    keeps the fresh, not yet named dir, so the commit's entries resolve."""
    path = str(tmp_path_factory.mktemp("tbl_inflight")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "a", i) for i in range(40)]),
                 key="k", n_buckets=4)
    orig = st._commit
    vacuumed = []

    def vacuum_then_commit(*args):
        vacuumed.append(st.vacuum(spark, path, keep_versions=1))
        return orig(*args)

    monkeypatch.setattr(st, "_commit", vacuum_then_commit)
    merge_upsert(spark, path, _mk(spark, [(7, "b", 777), (300, "new", 1)]),
                 key="k", n_buckets=4)
    monkeypatch.undo()
    got = {r.k: (r.status, r.v) for r in read_merged(spark, path).collect()}
    assert len(got) == 41
    assert got[7] == ("b", 777) and got[300] == ("new", 1)
    assert vacuumed[0]["removed_data_dirs"] == []


def test_vacuum_after_merges_keeps_live_rows(spark, tmp_path_factory):
    """Live leaf entries keep their data dirs through vacuum, even when
    the other buckets of the same dir were replaced since."""
    path = str(tmp_path_factory.mktemp("tbl_vac")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "a", i) for i in range(60)]),
                 key="k", n_buckets=4)
    merge_upsert(spark, path, _mk(spark, [(1, "b", 1), (2, "b", 2)]),
                 key="k", n_buckets=4)
    merge_upsert(spark, path, _mk(spark, [(5, "c", 5), (99, "c", 99)]),
                 key="k", n_buckets=4)
    live = _rows(spark, path)
    assert len(live) == 61
    res = st.vacuum(spark, path, keep_versions=1)
    assert res["retained_versions"] == [3]
    assert _rows(spark, path) == live
    referenced = {"/".join(e.split("/")[:2]) for e in _files(spark, path)}
    assert {f"data/{d}" for d in _data_dirs(path)} == referenced


def test_incremental_scan_rejects_merge_and_delete(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl_inc")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(i, "a", i) for i in range(8)]),
                 key="k", n_buckets=2)
    merge_upsert(spark, path, _mk(spark, [(1, "b", 1)]), key="k", n_buckets=2)
    delete_keys(spark, path, spark.createDataFrame([(2,)], "k bigint"),
                key="k", n_buckets=2)
    assert [s["operation"] for s in st.history(spark, path)] == [
        "merge", "merge", "delete"]
    for lo in (1, 2):
        with pytest.raises(ValueError, match="incremental append scan"):
            st.read_incremental(spark, path, lo)
    assert st.read_incremental(spark, path, 0).count() == 7
