"""Incremental cleanup via the snapshot change feed (VERDICT r4 #6):
each run consumes exactly the snapshot versions added since the last and
lands as one append commit of the `<out>/clean` snapshot table, whose
props carry `cleaned_through`. Cross-delta exact dupes are removed through
the committed rows' `th` hashes, a crash before the commit re-runs into
exactly one commit, two runs of one range cannot both append, and an
up-to-date table no-ops."""

from __future__ import annotations

import os
import pathlib
import time

import numpy as np
import pytest

from no_ocr_spark.jobs.clean_job import run_incremental
from no_ocr_spark.sources import snaptable as st

_SCHEMA = "url string, text string, error string"


def _docs(spark, prefix: str, n: int, seed: int):
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(400)]
    rows = [(f"https://{prefix}{i:03d}.example.org/a",
             " ".join(rng.choice(words) for _ in range(40)), None)
            for i in range(n)]
    return rows


def _batch_b(spark, batch_a):
    """17 fresh docs + 3 exact text copies of batch A docs (new urls, so
    only the cross-delta hash anti-join can catch them)."""
    batch_b = _docs(spark, "b", 17, seed=2)
    return batch_b + [(u.replace("https://a", "https://dup-a"), t, e)
                      for u, t, e in batch_a[:3]]


def _paths(tmp_path_factory, tag):
    return (str(tmp_path_factory.mktemp(tag)) + "/snap",
            str(tmp_path_factory.mktemp(tag)) + "/out")


def _cleaned_through(spark, out):
    return st.history(spark, out + "/clean")[-1]["props"]["cleaned_through"]


def _crash_once_at_commit(monkeypatch):
    orig = st._commit
    calls = []

    def crash(*args):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("simulated crash before commit")
        return orig(*args)

    monkeypatch.setattr(st, "_commit", crash)


def _data_dirs(out):
    return set(os.listdir(os.path.join(out, "clean", "data")))


def test_incremental_clean_consumes_only_the_delta(spark, tmp_path_factory):
    snap, out = _paths(tmp_path_factory, "incsnap")
    batch_a = _docs(spark, "a", 30, seed=1)
    st.write(spark, snap, spark.createDataFrame(batch_a, _SCHEMA))  # v1
    r1 = run_incremental(spark, snap, out, n_buckets=4)
    assert (r1["from_version"], r1["to_version"]) == (0, 1)
    assert r1["n_in"] == 30 and r1["n_clean"] == 30
    assert r1["n_cross_delta_dupes"] == 0

    st.write(spark, snap, spark.createDataFrame(_batch_b(spark, batch_a),
                                                _SCHEMA), mode="append")  # v2
    r2 = run_incremental(spark, snap, out, n_buckets=4)
    # THE claim: the second run's input is the 20-row delta, not the
    # 50-row table
    assert (r2["from_version"], r2["to_version"]) == (1, 2)
    assert r2["n_in"] == 20
    assert r2["n_cross_delta_dupes"] == 3
    assert r2["n_clean"] == 17

    # the clean table has every kept doc exactly once, one commit per run
    combined = st.read(spark, out + "/clean")
    assert combined.count() == 47
    assert combined.select("text").distinct().count() == 47
    assert [s["props"]["cleaned_through"]
            for s in st.history(spark, out + "/clean")] == [1, 2]

    # up to date -> no-op, no new commit
    r3 = run_incremental(spark, snap, out, n_buckets=4)
    assert r3.get("noop") is True and r3["n_in"] == 0
    assert st.current_version(spark, out + "/clean") == 2


def test_crash_before_commit_reruns_into_one_commit(spark, tmp_path_factory,
                                                    monkeypatch):
    """A crash after the data write and before the commit leaves the table
    and its `cleaned_through` as they were; the re-run commits exactly
    once, no row doubles, and vacuum removes the aged orphan dir."""
    snap, out = _paths(tmp_path_factory, "inccrash")
    batch_a = _docs(spark, "a", 30, seed=1)
    st.write(spark, snap, spark.createDataFrame(batch_a, _SCHEMA))  # v1
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 30
    st.write(spark, snap, spark.createDataFrame(_batch_b(spark, batch_a),
                                                _SCHEMA), mode="append")  # v2
    dirs = _data_dirs(out)

    _crash_once_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_incremental(spark, snap, out, n_buckets=4)
    (orphan,) = _data_dirs(out) - dirs  # the data write did land
    assert st.current_version(spark, out + "/clean") == 1
    assert _cleaned_through(spark, out) == 1
    assert st.read(spark, out + "/clean").count() == 30

    r = run_incremental(spark, snap, out, n_buckets=4)
    assert (r["from_version"], r["to_version"]) == (1, 2)
    assert r["n_in"] == 20 and r["n_clean"] == 17
    assert r["n_cross_delta_dupes"] == 3
    assert st.current_version(spark, out + "/clean") == 2
    assert _cleaned_through(spark, out) == 2
    combined = st.read(spark, out + "/clean")
    assert combined.count() == 47
    assert combined.select("text").distinct().count() == 47

    aged = time.time() - st._ORPHAN_MIN_AGE_S - 60
    os.utime(os.path.join(out, "clean", "data", orphan), (aged, aged))
    res = st.vacuum(spark, out + "/clean", keep_versions=1)
    assert res["removed_data_dirs"] == [f"data/{orphan}"]
    assert st.read(spark, out + "/clean").count() == 47


def test_failed_commit_releases_the_cleanup_cache(spark, tmp_path_factory,
                                                 monkeypatch):
    """A run whose commit raises still unpersists clean_corpus's
    repetition-stage cache, and the error reaches the caller."""
    snap, out = _paths(tmp_path_factory, "inccache")
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "a", 10, 1),
                                                _SCHEMA))          # v1
    spark.catalog.clearCache()
    _crash_once_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_incremental(spark, snap, out, n_buckets=4)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_snapshot_advancing_after_a_crash_is_cleaned_once(
        spark, tmp_path_factory, monkeypatch):
    """If the snapshot ADVANCES between a crash and the re-run, the re-run
    cleans the wider range from the same committed version; the crashed
    run's rows were never committed, so nothing doubles."""
    snap, out = _paths(tmp_path_factory, "incstale")
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "a", 10, 1),
                                                _SCHEMA))          # v1
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 10
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "b", 6, 2),
                                                _SCHEMA), mode="append")  # v2
    _crash_once_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_incremental(spark, snap, out, n_buckets=4)
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "c", 5, 3),
                                                _SCHEMA), mode="append")  # v3
    r3 = run_incremental(spark, snap, out, n_buckets=4)
    assert (r3["from_version"], r3["to_version"]) == (1, 3)
    assert r3["n_in"] == 11 and r3["n_clean"] == 11
    assert st.current_version(spark, out + "/clean") == 2
    combined = st.read(spark, out + "/clean")
    assert combined.count() == 21            # 10 + 6 + 5, nothing doubled
    assert combined.select("text").distinct().count() == 21


def test_run_racing_a_commit_conflict_fails(spark, tmp_path_factory,
                                            monkeypatch):
    """A commit landing after a run read `cleaned_through` makes that run
    raise and append nothing: two runs of one range never both land."""
    snap, out = _paths(tmp_path_factory, "incrace")
    batch_a = _docs(spark, "a", 30, seed=1)
    st.write(spark, snap, spark.createDataFrame(batch_a, _SCHEMA))  # v1
    run_incremental(spark, snap, out, n_buckets=4)
    st.write(spark, snap, spark.createDataFrame(_batch_b(spark, batch_a),
                                                _SCHEMA), mode="append")  # v2
    orig = st._commit
    rival = {}

    def racing(*args):
        monkeypatch.setattr(st, "_commit", orig)
        rival.update(run_incremental(spark, snap, out, n_buckets=4))
        return orig(*args)

    monkeypatch.setattr(st, "_commit", racing)
    with pytest.raises(IOError, match="concurrent commit"):
        run_incremental(spark, snap, out, n_buckets=4)
    assert rival["n_clean"] == 17
    assert st.current_version(spark, out + "/clean") == 2
    assert _cleaned_through(spark, out) == 2
    combined = st.read(spark, out + "/clean")
    assert combined.count() == 47
    assert combined.select("text").distinct().count() == 47


def test_all_filtered_delta_still_advances_state(spark, tmp_path_factory):
    """Review finding: a delta whose every row fails the gates writes no
    rows; the run must still advance cleaned_through instead of wedging
    on the same delta forever — also when the anti-join side is a
    committed, non-empty table."""
    snap, out = _paths(tmp_path_factory, "incempty")

    def short(tag):
        return spark.createDataFrame(
            [(f"https://{tag}{i}.example.org/a", "too short", None)
             for i in range(8)], _SCHEMA)

    st.write(spark, snap, short("s"))                              # v1
    r = run_incremental(spark, snap, out, n_buckets=4)
    assert r["n_in"] == 8 and r["n_clean"] == 0
    assert _cleaned_through(spark, out) == 1
    assert run_incremental(spark, snap, out, n_buckets=4).get("noop") is True

    st.write(spark, snap, spark.createDataFrame(
        _docs(spark, "a", 10, 1), _SCHEMA), mode="append")         # v2
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 10
    st.write(spark, snap, short("t"), mode="append")               # v3
    r = run_incremental(spark, snap, out, n_buckets=4)
    assert r["n_in"] == 8 and r["n_clean"] == 0
    assert _cleaned_through(spark, out) == 3
    assert st.read(spark, out + "/clean").count() == 10


def test_rerun_on_uri_out_dir_is_noop(spark, tmp_path_factory, monkeypatch):
    """A file:// out_dir keeps the clean table in the output, not under the
    working directory: a second run started elsewhere no-ops."""
    snap = str(tmp_path_factory.mktemp("incuri")) + "/snap"
    out = (pathlib.Path(tmp_path_factory.mktemp("incuri")) / "out").as_uri()
    st.write(spark, snap, spark.createDataFrame(
        _docs(spark, "a", 10, 1), _SCHEMA))
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd"))
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 10
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd"))
    r = run_incremental(spark, snap, out, n_buckets=4)
    assert r.get("noop") is True and r["from_version"] == 1
