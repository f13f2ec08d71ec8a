"""W5 MERGE shim: keyed upsert over bucketed parquet with partition-level
copy-on-write — updates win, untouched bucket files are not rewritten."""

import glob
import os

from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import with_bucket
from no_ocr_spark.sources.merge import merge_upsert, read_merged


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, status string, v bigint")


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
              for f in glob.glob(os.path.join(path, "bucket=*", "*.parquet"))}

    upd = _mk(spark, [(3, "done", 33)])
    res = merge_upsert(spark, path, upd, key="k", n_buckets=8)
    assert len(res["touched_buckets"]) == 1
    (tb,) = res["touched_buckets"]

    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(path, "bucket=*", "*.parquet"))}
    for f, mt in after.items():
        in_touched = f"bucket={tb}" in f
        if not in_touched:
            assert before[f] == mt, f"untouched bucket file rewritten: {f}"
    # the touched bucket WAS rewritten (new file or new mtime)
    touched_files = [f for f in after if f"bucket={tb}" in f]
    assert any(f not in before or before[f] != after[f] for f in touched_files)


def test_merge_dedupes_same_key_within_batch(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl3")) + "/t"
    upd = _mk(spark, [(1, "a", 1), (1, "b", 2)])
    merge_upsert(spark, path, upd, key="k", n_buckets=4)
    rows = read_merged(spark, path).collect()
    assert len(rows) == 1
    assert rows[0].status == "b" and rows[0].v == 2  # max-struct wins


def test_delete_keys_targeted(spark, tmp_path_factory):
    from no_ocr_spark.sources.merge import delete_keys

    path = str(tmp_path_factory.mktemp("tbl4")) + "/t"
    base = _mk(spark, [(i, "pending", i) for i in range(200)])
    merge_upsert(spark, path, base, key="k", n_buckets=8)

    before = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(path, "bucket=*", "*.parquet"))}

    doomed = spark.createDataFrame([(3,), (17,), (42,)], "k bigint")
    res = delete_keys(spark, path, doomed, key="k", n_buckets=8)
    assert res["n_deleted"] == 3

    got = read_merged(spark, path)
    assert got.count() == 197
    assert got.filter(got.k.isin([3, 17, 42])).count() == 0
    # untouched buckets' files not rewritten
    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(path, "bucket=*", "*.parquet"))}
    touched = {f"bucket={b}" for b in res["touched_buckets"]}
    for f, mt in after.items():
        if not any(t in f for t in touched):
            assert before[f] == mt, f"untouched bucket rewritten: {f}"


def test_delete_keys_empties_whole_bucket(spark, tmp_path_factory):
    from no_ocr_spark.sources.merge import delete_keys

    path = str(tmp_path_factory.mktemp("tbl5")) + "/t"
    base = _mk(spark, [(i, "x", i) for i in range(50)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)
    # delete EVERY key of one bucket: its directory must disappear
    bucketed = spark.read.parquet(path)
    some_bucket = bucketed.select("bucket").first().bucket
    doomed_keys = [
        (r.k,) for r in
        bucketed.filter(F.col("bucket") == some_bucket).select("k").collect()
    ]
    res = delete_keys(spark, path, spark.createDataFrame(doomed_keys, "k bigint"),
                      key="k", n_buckets=4)
    assert res["n_deleted"] == len(doomed_keys) > 0
    got = spark.read.parquet(path)
    assert got.filter(F.col("bucket") == some_bucket).count() == 0
    assert got.count() == 50 - len(doomed_keys)
    assert not os.path.exists(os.path.join(path, f"bucket={some_bucket}"))


# ------------------------------------------------ crash-safety (journal)


def test_upsert_crash_after_journal_commit_replays(spark, tmp_path_factory):
    """Crash between the journal's MANIFEST commit and the bucket
    overwrite: the next operation must replay the journaled updates."""
    import no_ocr_spark.sources.merge as M

    path = str(tmp_path_factory.mktemp("tbl6")) + "/t"
    base = _mk(spark, [(i, "pending", i) for i in range(40)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)

    # stage updates + commit the manifest, then "crash" (no apply)
    upd = _mk(spark, [(7, "done", 777)]).transform(
        lambda d: with_bucket(d, 4, url_col="k")
    )
    M._stage(spark, path, upd, "upsert", "k",
             [r.bucket for r in upd.select("bucket").distinct().collect()])
    got = {r.k: r.status for r in read_merged(spark, path).collect()}
    assert got[7] == "pending"  # not applied yet — the crash window is real

    # ANY subsequent op replays first; this one is unrelated
    res = merge_upsert(spark, path, _mk(spark, [(300, "new", 1)]),
                       key="k", n_buckets=4)
    assert res["replayed"] == 1
    got = {r.k: (r.status, r.v) for r in read_merged(spark, path).collect()}
    assert got[7] == ("done", 777)      # journaled update applied
    assert got[300] == ("new", 1)       # the new op applied too
    assert len(got) == 41
    # journal drained
    assert M._pending_ops(M._Fs(spark, path), path) == []


def test_uncommitted_journal_entry_is_discarded(spark, tmp_path_factory):
    """Crash BEFORE the MANIFEST rename: staged data without a manifest is
    garbage — recovery must drop it, not apply it."""
    import no_ocr_spark.sources.merge as M

    path = str(tmp_path_factory.mktemp("tbl7")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(1, "a", 1)]), key="k", n_buckets=4)
    orphan = M._journal_root(path) + "/upsert-000"
    with_bucket(_mk(spark, [(9, "ghost", 9)]), 4, url_col="k").write.parquet(
        orphan + "/data"
    )
    res = merge_upsert(spark, path, _mk(spark, [(2, "b", 2)]),
                       key="k", n_buckets=4)
    assert res["replayed"] == 0
    got = {r.k for r in read_merged(spark, path).collect()}
    assert got == {1, 2}  # the ghost row never appears
    assert not os.path.exists(orphan)


def test_delete_crash_between_overwrite_and_drop(spark, tmp_path_factory,
                                                 monkeypatch):
    """Crash after the survivor overwrite but before the emptied bucket
    directory drop: without recovery the deleted rows RESURRECT on read;
    replay must finish the drop."""
    import pytest

    import no_ocr_spark.sources.merge as M
    from no_ocr_spark.sources.merge import delete_keys

    path = str(tmp_path_factory.mktemp("tbl8")) + "/t"
    base = _mk(spark, [(i, "x", i) for i in range(50)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)

    bucketed = spark.read.parquet(path)
    some_bucket = bucketed.select("bucket").first().bucket
    doomed = [(r.k,) for r in bucketed.filter(
        F.col("bucket") == some_bucket).select("k").collect()]

    orig = M._Fs.delete

    def crash_at_drop(self, p):
        if "/bucket=" in p:
            raise RuntimeError("simulated crash at directory drop")
        return orig(self, p)

    monkeypatch.setattr(M._Fs, "delete", crash_at_drop)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_keys(spark, path, spark.createDataFrame(doomed, "k bigint"),
                    key="k", n_buckets=4)
    monkeypatch.undo()

    # the crash left the stale directory: rows resurrect — the bug is real
    assert os.path.exists(os.path.join(path, f"bucket={some_bucket}"))
    assert spark.read.parquet(path).filter(
        F.col("bucket") == some_bucket).count() > 0

    replayed = M._recover(spark, path)
    assert len(replayed) == 1
    assert not os.path.exists(os.path.join(path, f"bucket={some_bucket}"))
    got = spark.read.parquet(path)
    assert got.count() == 50 - len(doomed)
    assert M._pending_ops(M._Fs(spark, path), path) == []


def test_journal_is_invisible_to_table_readers(spark, tmp_path_factory):
    import no_ocr_spark.sources.merge as M

    path = str(tmp_path_factory.mktemp("tbl9")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(1, "a", 1)]), key="k", n_buckets=4)
    upd = with_bucket(_mk(spark, [(2, "b", 2)]), 4, url_col="k")
    M._stage(spark, path, upd, "upsert", "k", [0])
    # a committed-but-unapplied journal entry must not pollute reads
    assert read_merged(spark, path).count() == 1


def test_delete_on_fully_emptied_table_is_noop(spark, tmp_path_factory):
    """After a delete empties EVERY bucket (all bucket dirs dropped, only
    _journal remains), a subsequent delete_keys must return n_deleted=0 —
    not crash on parquet schema inference over a data-less directory."""
    from no_ocr_spark.sources.merge import delete_keys

    path = str(tmp_path_factory.mktemp("tbl_empty")) + "/t"
    base = _mk(spark, [(i, "x", i) for i in range(20)])
    merge_upsert(spark, path, base, key="k", n_buckets=4)

    everything = spark.range(20).select(F.col("id").alias("k"))
    res = delete_keys(spark, path, everything, key="k", n_buckets=4)
    assert res["n_deleted"] == 20
    assert not glob.glob(os.path.join(path, "bucket=*"))

    # table dir still exists (holds _journal) but has zero data dirs
    again = delete_keys(spark, path, everything, key="k", n_buckets=4)
    assert again["n_deleted"] == 0

    # and the table is usable again afterwards
    merge_upsert(spark, path, _mk(spark, [(1, "y", 9)]), key="k", n_buckets=4)
    assert read_merged(spark, path).count() == 1


def test_journal_entry_ids_unique_within_same_millisecond(
    spark, tmp_path_factory, monkeypatch
):
    """Two ops staged in the same clock millisecond must get distinct
    journal directories (uuid suffix), or the second stage clobbers the
    first entry's data+manifest."""
    import time as _time

    from no_ocr_spark.sources import merge as m

    path = str(tmp_path_factory.mktemp("tbl_ms")) + "/t"
    monkeypatch.setattr(_time, "time", lambda: 1700000000.0)
    d = _mk(spark, [(1, "a", 1)])
    e1 = m._stage(spark, path, d, "upsert", "k", [0])
    e2 = m._stage(spark, path, d, "upsert", "k", [0])
    assert e1 != e2
    fs = m._Fs(spark, path)
    assert fs.exists(f"{e1}/MANIFEST.json")
    assert fs.exists(f"{e2}/MANIFEST.json")


def test_journal_replays_in_staging_order(spark, tmp_path_factory, monkeypatch):
    """Pending entries must replay in STAGING order even within one
    millisecond: an upsert(k) staged before a delete(k) must leave k
    deleted after recovery. With op-first entry names 'delete-…' sorted
    before 'upsert-…' and the replay resurrected the row."""
    import time as _time

    from no_ocr_spark.sources import merge as m

    path = str(tmp_path_factory.mktemp("tbl_order")) + "/t"
    merge_upsert(spark, path, _mk(spark, [(1, "old", 1)]), key="k",
                 n_buckets=2)

    # freeze the clock so both entries land in the same millisecond
    monkeypatch.setattr(_time, "time", lambda: 1700000000.0)
    upd = with_bucket(_mk(spark, [(1, "new", 2)]), 2, url_col="k")
    m._stage(spark, path, upd, "upsert", "k", [int(upd.first().bucket)])
    k = with_bucket(spark.createDataFrame([(1,)], "k bigint"), 2, url_col="k")
    m._stage(spark, path, k.select("k", "bucket"), "delete", "k",
             [int(k.first().bucket)])

    replayed = m._recover(spark, path)
    assert [r["op"] for r in replayed] == ["upsert", "delete"]
    # k=1 was the only row: a correctly-ordered replay leaves the table
    # fully emptied (no bucket dirs); the resurrect bug would leave k=1
    assert not [b for b in m._Fs(spark, path).listdir(path)
                if b.startswith("bucket=")]
