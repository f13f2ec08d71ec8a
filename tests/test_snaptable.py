"""Snapshot-table format (sources/snaptable.py): atomic commits, snapshot
isolation, time travel, crash invisibility, vacuum safety."""

import ast
import os
import time
from pathlib import Path

from pyspark.sql import functions as F

from no_ocr_spark.sources import snaptable as st
from no_ocr_spark.sources.snaptable import _Fs


def _mk(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_create_append_read_history(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap")) + "/t"
    v1 = st.write(spark, path, _mk(spark, 0, 10, "a"))
    v2 = st.write(spark, path, _mk(spark, 10, 15, "b"), mode="append")
    assert (v1, v2) == (1, 2)
    assert st.read(spark, path).count() == 15
    got = {(r.k, r.tag) for r in st.read(spark, path).collect()}
    assert got == {(i, "a") for i in range(10)} | {(i, "b")
                                                   for i in range(10, 15)}
    ops = [s["operation"] for s in st.history(spark, path)]
    assert ops == ["create", "append"]


def test_time_travel_and_overwrite_isolation(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap2")) + "/t"
    st.write(spark, path, _mk(spark, 0, 10, "a"))
    st.write(spark, path, _mk(spark, 10, 15, "b"), mode="append")
    # capture v2's DataFrame BEFORE the overwrite: snapshot isolation says
    # it must keep yielding v2's rows afterwards
    v2_df = st.read(spark, path, version=2)
    st.write(spark, path, _mk(spark, 100, 103, "c"), mode="overwrite")
    assert st.read(spark, path).count() == 3
    assert st.read(spark, path, version=1).count() == 10
    assert st.read(spark, path, version=2).count() == 15
    assert v2_df.count() == 15  # pre-overwrite handle unaffected
    assert [s["operation"] for s in st.history(spark, path)] == [
        "create", "append", "overwrite"]


def test_crashed_commit_is_invisible_and_vacuumable(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap3")) + "/t"
    st.write(spark, path, _mk(spark, 0, 10, "a"))
    # simulate a crash AFTER the data write but BEFORE the VERSION rename:
    # orphan data dir + orphan metadata file
    fs = _Fs(spark, path)
    _mk(spark, 50, 60, "x").write.parquet(f"{path}/data/deadbeef_orphan")
    fs.write_atomic(f"{path}/_meta/v{2:012d}.metadata.json", "{}")
    # age it past the bound that spares writes still committing
    aged = time.time() - st._ORPHAN_MIN_AGE_S - 60
    os.utime(f"{path}/data/deadbeef_orphan", (aged, aged))
    assert st.current_version(spark, path) == 1
    assert st.read(spark, path).count() == 10  # reader never sees it
    res = st.vacuum(spark, path, keep_versions=2)
    assert "data/deadbeef_orphan" in res["removed_data_dirs"]
    assert st.read(spark, path).count() == 10


def test_vacuum_keeps_retained_versions_only(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap4")) + "/t"
    st.write(spark, path, _mk(spark, 0, 5, "a"))
    st.write(spark, path, _mk(spark, 5, 8, "b"), mode="overwrite")
    st.write(spark, path, _mk(spark, 8, 12, "c"), mode="append")
    st.write(spark, path, _mk(spark, 12, 13, "d"), mode="overwrite")  # v4
    res = st.vacuum(spark, path, keep_versions=2)
    # v1's data dir ('a') is referenced by no retained version (3, 4)
    assert len(res["removed_data_dirs"]) == 1
    assert res["retained_versions"] == [3, 4]
    # retained versions still read intact
    assert st.read(spark, path, version=3).count() == 7
    assert st.read(spark, path, version=4).count() == 1
    # expired metadata is gone
    import pytest

    with pytest.raises(Exception):
        st.read(spark, path, version=1)


def test_metadata_create_is_the_commit_point(spark, tmp_path_factory):
    """The commit point is the create-exclusive metadata file; VERSION is
    a reader cache. A stale pointer (crash between metadata create and
    pointer update, or a lost pointer race) must HEAL by forward probe —
    the committed version stays visible. A half-written claim file past
    the latest committed version is NOT a commit."""
    path = str(tmp_path_factory.mktemp("snap5")) + "/t"
    st.write(spark, path, _mk(spark, 0, 4, "a"))
    st.write(spark, path, _mk(spark, 4, 9, "b"), mode="append")
    fs = _Fs(spark, path)
    # stale pointer: reads still resolve to the committed v2
    fs.write_atomic(f"{path}/_meta/VERSION", "1")
    assert st.current_version(spark, path) == 2
    assert st.read(spark, path).count() == 9
    # and the pointer race cannot resurrect a half-written claim: a
    # truncated v3 metadata file does not count as committed
    fs.write_atomic(f"{path}/_meta/v{3:012d}.metadata.json", '{"form')
    assert st.current_version(spark, path) == 2
    assert st.read(spark, path).count() == 9
    # a new commit steals the dead claim's slot and lands as v3
    v = st.write(spark, path, _mk(spark, 9, 10, "c"), mode="append")
    assert v == 3
    assert st.read(spark, path).count() == 10


def test_two_writer_race_both_commits_survive(spark, tmp_path_factory):
    """Fence check (VERDICT r4 #5): two writers that each read the same
    base version and then commit must BOTH survive as distinct versions
    — no last-rename-wins lost update. Simulated deterministically by
    interleaving the fenced commit protocol: writer A's data lands
    first, B commits, then A commits (A must rebase onto B's version)."""
    path = str(tmp_path_factory.mktemp("snap6")) + "/t"
    st.write(spark, path, _mk(spark, 0, 3, "base"))

    # Writer A stages its data (the pre-commit half of st.write) ...
    import uuid

    fs = _Fs(spark, path)
    a_dir = f"data/{uuid.uuid4().hex}"
    _mk(spark, 3, 5, "A").write.parquet(f"{path}/{a_dir}")
    # ... writer B commits in A's window ...
    vb = st.write(spark, path, _mk(spark, 5, 9, "B"), mode="append")
    assert vb == 2
    # ... now A runs the fenced commit loop against the moved table
    import time as _t

    def make_snap(v, snapshots):
        return {"id": v + 1, "ts_ms": int(_t.time() * 1000),
                "operation": "append",
                "files": snapshots[-1]["files"] + [a_dir]}

    va = st._commit(fs, path, _mk(spark, 0, 1, "x").schema.jsonValue(),
                    make_snap)
    assert va == 3
    # both commits' rows are present; neither was lost
    assert st.read(spark, path).count() == 3 + 2 + 4
    tags = {r.tag for r in st.read(spark, path).select("tag").distinct()
            .collect()}
    assert tags == {"base", "A", "B"}
    # and a claim collision at the SAME version number: exactly one of
    # two create_exclusive calls for one slot wins
    meta = '{"version": 99}'
    p99 = f"{path}/_meta/v{99:012d}.metadata.json"
    wins = [fs.create_exclusive(p99, meta), fs.create_exclusive(p99, meta)]
    assert sorted(wins) == [False, True]


def test_random_op_sequences_match_model(spark, tmp_path_factory):
    """Model-based check: a deterministic pseudo-random sequence of
    append/overwrite/vacuum ops, with every retained version's row set
    compared against a pure-Python model after each step."""
    import random

    rng = random.Random(1234)
    path = str(tmp_path_factory.mktemp("snapmodel")) + "/t"
    model: dict[int, set] = {}  # version -> expected (k, tag) set
    dropped: set[int] = set()   # versions whose metadata vacuum expired
    v = 0
    next_k = 0
    for step in range(12):
        op = rng.choice(["append", "overwrite", "vacuum"]) if v else "append"
        if op == "vacuum":
            keep = rng.choice([1, 2, 3])
            st.vacuum(spark, path, keep_versions=keep)
            dropped |= {k for k in model if k < max(1, v - keep + 1)}
        else:
            lo, hi = next_k, next_k + rng.randint(1, 4)
            next_k = hi
            tag = f"t{step}"
            df = _mk(spark, lo, hi, tag)
            new = {(k, tag) for k in range(lo, hi)}
            prev = model.get(v, set()) if op == "append" else set()
            v = st.write(spark, path, df, mode=op)
            model[v] = prev | new
        # verify every retained version
        for k, want in model.items():
            if k in dropped:
                continue
            got = {(r.k, r.tag)
                   for r in st.read(spark, path, version=k).collect()}
            assert got == want, (step, k)
        assert st.current_version(spark, path) == v


def test_snapshot_extracted_reconciles_with_ledger(spark, tmp_path_factory):
    """extract_job --snapshot leg, ledger-reconciled (ADVICE r4 medium):
    the commit set is ledger-done MINUS already-snapshotted — so a crash
    between the lineage append and the snapshot commit self-heals on the
    next run even though run_with_lineage reports no pending buckets,
    commits are idempotent, and time travel shows ingest progress."""
    import os

    import pandas as pd

    from no_ocr_spark.plans.lineage import run_with_lineage, snapshot_extracted

    out = str(tmp_path_factory.mktemp("snapjob")) + "/out"
    snap = str(tmp_path_factory.mktemp("snapjob")) + "/snap"
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://h{i}.example.org/p{i}" for i in range(24)],
        "warc_ts": pd.to_datetime(["2024-01-01"] * 24, utc=True),
        "html": [("<html><body><main><article><p>"
                  + f"doc {i} body text that is long enough to keep. " * 3
                  + "</p></article></main></body></html>").encode()
                 for i in range(24)],
        "text": [f"doc {i}" for i in range(24)],
        "lang": ["en"] * 24,
    }))
    res = run_with_lineage(spark, pages, out, n_buckets=4)
    processed = res["processed_buckets"]
    assert sorted(processed) == [0, 1, 2, 3]
    extracted = spark.read.parquet(out + "/extracted")
    n_first = extracted.filter(F.col("bucket").isin(processed[:2])).count()
    n_all = extracted.count()

    # THE crash window: lineage says buckets 0,1 are done but the job died
    # before its snapshot commit; the resumed run's run_with_lineage then
    # passes processed_buckets=[] — simulate with a view of the job dir
    # whose ledger holds only the first two buckets
    out_half = str(tmp_path_factory.mktemp("snapjob")) + "/out_half"
    os.makedirs(out_half)
    os.symlink(out + "/extracted", out_half + "/extracted")
    spark.read.parquet(out + "/lineage").filter(
        F.col("bucket").isin(processed[:2])
    ).write.parquet(out_half + "/lineage")
    v1 = snapshot_extracted(spark, out_half, snap, [])
    assert v1 == 1
    assert st.read(spark, snap, version=1).count() == n_first

    # next run (full ledger, still nothing newly processed) heals in the
    # missing buckets — and ONLY those
    v2 = snapshot_extracted(spark, out, snap, [])
    assert v2 == 2
    assert st.read(spark, snap, version=2).count() == n_all
    snap_urls = {r.url for r in st.read(spark, snap).select("url").collect()}
    ext_urls = {r.url for r in extracted.select("url").collect()}
    assert snap_urls == ext_urls

    # idempotent: re-passing the full processed list re-appends nothing
    assert snapshot_extracted(spark, out, snap, processed) == 2
    assert st.current_version(spark, snap) == 2
    assert st.read(spark, snap).count() == n_all
    # empty ledger + nothing processed + fresh table -> None, no commit
    out_empty = str(tmp_path_factory.mktemp("snapjob")) + "/out_empty"
    os.makedirs(out_empty)
    os.symlink(out + "/extracted", out_empty + "/extracted")
    empty_snap = str(tmp_path_factory.mktemp("snapjob")) + "/never"
    assert snapshot_extracted(spark, out_empty, empty_snap, []) is None


def test_read_incremental_change_feed(spark, tmp_path_factory):
    """Incremental append scan: exactly the rows added after
    from_version; overwrite commits in range are rejected; the
    extract_job --snapshot chain is consumable without rescans."""
    import pytest

    path = str(tmp_path_factory.mktemp("snapinc")) + "/t"
    st.write(spark, path, _mk(spark, 0, 10, "a"))               # v1
    st.write(spark, path, _mk(spark, 10, 15, "b"), mode="append")  # v2
    st.write(spark, path, _mk(spark, 15, 22, "c"), mode="append")  # v3

    got = {r.k for r in st.read_incremental(spark, path, 1).collect()}
    assert got == set(range(10, 22))
    got = {r.k for r in st.read_incremental(spark, path, 2, 3).collect()}
    assert got == set(range(15, 22))
    # full-table form and empty-delta form
    assert st.read_incremental(spark, path, 0).count() == 22
    assert st.read_incremental(spark, path, 3).count() == 0
    # an overwrite inside the range is rejected, before it is fine
    st.write(spark, path, _mk(spark, 100, 103, "d"), mode="overwrite")  # v4
    with pytest.raises(ValueError, match="overwrite"):
        st.read_incremental(spark, path, 2)
    st.write(spark, path, _mk(spark, 103, 105, "e"), mode="append")  # v5
    got = {r.k for r in st.read_incremental(spark, path, 4).collect()}
    assert got == {103, 104}


def test_read_incremental_from_zero_ignores_overwrites(spark, tmp_path_factory):
    """Review finding: from_version=0 is the bootstrap read (empty old
    file set) — correct regardless of overwrite history, must not
    raise."""
    path = str(tmp_path_factory.mktemp("snapboot")) + "/t"
    st.write(spark, path, _mk(spark, 0, 10, "a"))                   # v1
    st.write(spark, path, _mk(spark, 50, 53, "b"), mode="overwrite")  # v2
    st.write(spark, path, _mk(spark, 53, 55, "c"), mode="append")     # v3
    got = {r.k for r in st.read_incremental(spark, path, 0).collect()}
    assert got == {50, 51, 52, 53, 54}


def test_compact_rewrites_files_preserves_rows(spark, tmp_path_factory):
    """Compaction (the small-files remedy): identical row set, one data
    directory, old versions readable until vacuum drops them, and
    incremental scans crossing the compact commit are rejected."""
    import pytest

    path = str(tmp_path_factory.mktemp("snapcomp")) + "/t"
    for lo in range(0, 12, 3):  # four small append commits -> 4 data dirs
        st.write(spark, path, _mk(spark, lo, lo + 3, "a"), mode="append")
    before = {(r.k, r.tag) for r in st.read(spark, path).collect()}
    assert len(st.history(spark, path)[-1]["files"]) == 4

    v5 = st.compact(spark, path)
    assert v5 == 5
    hist = st.history(spark, path)
    assert hist[-1]["operation"] == "compact"
    assert len(hist[-1]["files"]) == 1
    assert {(r.k, r.tag) for r in st.read(spark, path).collect()} == before
    assert st.read(spark, path, version=4).count() == 12  # time travel OK

    with pytest.raises(ValueError, match="compact"):
        st.read_incremental(spark, path, 2)     # range crosses the compact
    st.write(spark, path, _mk(spark, 50, 52, "b"), mode="append")  # v6
    got = {r.k for r in st.read_incremental(spark, path, 5).collect()}
    assert got == {50, 51}                       # post-compact delta fine

    res = st.vacuum(spark, path, keep_versions=2)
    assert len(res["removed_data_dirs"]) == 4   # the four pre-compact dirs
    assert {(r.k, r.tag) for r in st.read(spark, path).collect()} \
        == before | {(50, "b"), (51, "b")}


def test_snaptable_is_the_only_commit_protocol():
    """Engine commits go through this module: no other module claims a
    file atomically, replaces one atomically, or keeps a journal or
    manifest of its own."""
    pkg = Path(__file__).resolve().parents[1] / "no_ocr_spark"
    writers = {"create_exclusive": {"sources/snaptable.py"},
               "write_atomic": {"sources/snaptable.py"}}
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in writers
                    and rel not in writers[node.func.attr]):
                hits.append(f"{rel}:{node.lineno} calls {node.func.attr}")
            names = [getattr(node, a, None)
                     for a in ("id", "attr", "name", "arg", "value")]
            if any(isinstance(n, str) and ("_journal" in n or "MANIFEST" in n)
                   for n in names):
                hits.append(f"{rel}:{node.lineno} names a journal")
    assert not hits, hits


def test_write_atomic_crash_keeps_the_old_text(spark, tmp_path_factory,
                                               monkeypatch):
    """A local write_atomic that dies before its rename leaves the previous
    text readable (VERSION is never missing)."""
    import pytest

    path = str(tmp_path_factory.mktemp("atomic")) + "/state.json"
    fs = _Fs(spark, path)
    fs.write_atomic(path, "old")

    def crash(*_args):
        raise OSError("simulated crash before rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        fs.write_atomic(path, "new")
    monkeypatch.undo()
    assert fs.read_text(path) == "old"
    fs.write_atomic(path, "new")
    assert fs.read_text(path) == "new"
