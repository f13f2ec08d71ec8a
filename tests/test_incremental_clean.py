"""Incremental cleanup via the snapshot change feed (VERDICT r4 #6):
each run consumes exactly the snapshot versions added since the last,
cross-delta exact dupes are removed through the hash ledger, resumes are
idempotent, and an up-to-date state no-ops."""

from __future__ import annotations

import glob
import json
import os
import pathlib

import numpy as np
from pyspark.sql import functions as F

from no_ocr_spark.jobs.clean_job import run_incremental
from no_ocr_spark.sources import snaptable as st


def _docs(spark, prefix: str, n: int, seed: int):
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(400)]
    rows = [(f"https://{prefix}{i:03d}.example.org/a",
             " ".join(rng.choice(words) for _ in range(40)), None)
            for i in range(n)]
    return rows


def test_incremental_clean_consumes_only_the_delta(spark, tmp_path_factory):
    snap = str(tmp_path_factory.mktemp("incsnap")) + "/snap"
    out = str(tmp_path_factory.mktemp("incsnap")) + "/out"
    schema = "url string, text string, error string"

    batch_a = _docs(spark, "a", 30, seed=1)
    st.write(spark, snap, spark.createDataFrame(batch_a, schema))  # v1
    r1 = run_incremental(spark, snap, out, n_buckets=4)
    assert (r1["from_version"], r1["to_version"]) == (0, 1)
    assert r1["n_in"] == 30 and r1["n_clean"] == 30
    assert r1["n_cross_delta_dupes"] == 0

    # batch B: 17 fresh docs + 3 exact text copies of batch A docs (new
    # urls, so only the cross-delta hash ledger can catch them)
    batch_b = _docs(spark, "b", 17, seed=2)
    batch_b += [(u.replace("https://a", "https://dup-a"), t, e)
                for u, t, e in batch_a[:3]]
    st.write(spark, snap, spark.createDataFrame(batch_b, schema),
             mode="append")                                        # v2
    r2 = run_incremental(spark, snap, out, n_buckets=4)
    # THE claim: the second run's input is the 20-row delta, not the
    # 50-row table
    assert (r2["from_version"], r2["to_version"]) == (1, 2)
    assert r2["n_in"] == 20
    assert r2["n_cross_delta_dupes"] == 3
    assert r2["n_clean"] == 17

    # the combined clean dataset has every kept doc exactly once
    combined = spark.read.option("basePath", os.path.join(out, "clean")) \
        .parquet(*sorted(glob.glob(os.path.join(out, "clean", "delta=*"))))
    assert combined.count() == 47
    assert combined.select("text").distinct().count() == 47

    # up to date -> no-op, no new delta dirs
    r3 = run_incremental(spark, snap, out, n_buckets=4)
    assert r3.get("noop") is True and r3["n_in"] == 0
    assert len(glob.glob(os.path.join(out, "clean", "delta=*"))) == 2

    # crash window (delta written, state update lost): rolling the state
    # back re-runs INTO THE SAME delta dir — idempotent, nothing doubles
    with open(os.path.join(out, "clean_state.json"), "w") as f:
        json.dump({"cleaned_through": 1}, f)
    r4 = run_incremental(spark, snap, out, n_buckets=4)
    assert r4["n_in"] == 20 and r4["n_clean"] == 17
    combined = spark.read.option("basePath", os.path.join(out, "clean")) \
        .parquet(*sorted(glob.glob(os.path.join(out, "clean", "delta=*"))))
    assert combined.count() == 47
    assert combined.select("text").distinct().count() == 47
    with open(os.path.join(out, "clean_state.json")) as f:
        assert json.load(f)["cleaned_through"] == 2


def test_stale_delta_from_crashed_run_is_removed(spark, tmp_path_factory):
    """Review finding: if the snapshot ADVANCES between a crash (delta
    written, state not) and the re-run, the re-run's wider range gets a
    DIFFERENT tag — the stale dir must be removed or its rows double."""
    snap = str(tmp_path_factory.mktemp("incstale")) + "/snap"
    out = str(tmp_path_factory.mktemp("incstale")) + "/out"
    schema = "url string, text string, error string"
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "a", 10, 1),
                                                schema))           # v1
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 10
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "b", 6, 2),
                                                schema), mode="append")  # v2
    r2 = run_incremental(spark, snap, out, n_buckets=4)
    assert r2["n_clean"] == 6  # delta=v1_2 written
    # crash: state rolls back to 1; snapshot then advances to v3
    with open(os.path.join(out, "clean_state.json"), "w") as f:
        json.dump({"cleaned_through": 1}, f)
    st.write(spark, snap, spark.createDataFrame(_docs(spark, "c", 5, 3),
                                                schema), mode="append")  # v3
    r3 = run_incremental(spark, snap, out, n_buckets=4)
    assert (r3["from_version"], r3["to_version"]) == (1, 3)
    assert r3["n_in"] == 11 and r3["n_clean"] == 11
    combined = spark.read.option("basePath", os.path.join(out, "clean")) \
        .parquet(*sorted(glob.glob(os.path.join(out, "clean", "delta=*"))))
    assert combined.count() == 21            # 10 + 6 + 5, nothing doubled
    assert combined.select("text").distinct().count() == 21


def test_all_filtered_delta_still_advances_state(spark, tmp_path_factory):
    """Review finding: a delta whose every row fails the gates writes no
    data files; the run must still advance cleaned_through instead of
    wedging on schema inference forever."""
    snap = str(tmp_path_factory.mktemp("incempty")) + "/snap"
    out = str(tmp_path_factory.mktemp("incempty")) + "/out"
    schema = "url string, text string, error string"
    st.write(spark, snap, spark.createDataFrame(
        [(f"https://s{i}.example.org/a", "too short", None)
         for i in range(8)], schema))
    r = run_incremental(spark, snap, out, n_buckets=4)
    assert r["n_in"] == 8 and r["n_clean"] == 0
    with open(os.path.join(out, "clean_state.json")) as f:
        assert json.load(f)["cleaned_through"] == 1
    assert run_incremental(spark, snap, out, n_buckets=4).get("noop") is True


def test_rerun_on_uri_out_dir_is_noop(spark, tmp_path_factory, monkeypatch):
    """A file:// out_dir keeps the clean state in the output, not under the
    working directory: a second run started elsewhere no-ops."""
    snap = str(tmp_path_factory.mktemp("incuri")) + "/snap"
    out = (pathlib.Path(tmp_path_factory.mktemp("incuri")) / "out").as_uri()
    st.write(spark, snap, spark.createDataFrame(
        _docs(spark, "a", 10, 1), "url string, text string, error string"))
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd"))
    assert run_incremental(spark, snap, out, n_buckets=4)["n_clean"] == 10
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd"))
    r = run_incremental(spark, snap, out, n_buckets=4)
    assert r.get("noop") is True and r["from_version"] == 1
