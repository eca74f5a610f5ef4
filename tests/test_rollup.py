"""Incremental sketch rollup (operators/rollup.py + jobs/rollup_sketches):

* incremental update == one-shot rebuild, byte-identical blobs (merge
  associativity carried to the job level)
* only NEW files are sketched on the second update; no-op when nothing
  is new
* queries answer from stored blobs (no input re-scan) and match the
  direct build's estimates exactly
* commit protocol: a version directory without manifest.json (aborted
  write) is invisible to readers
* config mismatch (different specs / group cols) is refused
"""

from __future__ import annotations

import json
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from p2pddsketch_spark.errors import UsageError
from p2pddsketch_spark.operators import rollup as R
from p2pddsketch_spark.operators.harness import (SketchSpec, array_extractor,
                                                 parquet_file_list,
                                                 scalar_extractor,
                                                 scalar_int_extractor,
                                                 build_sketches_from_files,
                                                 collect_sketches)
from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog

SF_DIR = "/root/testdata/sf0.001"


def _specs():
    return [
        SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 22),
                   scalar_extractor("n_tok")),
        SketchSpec("hll", lambda: HyperLogLog(p=12),
                   array_extractor("tokens")),
    ]


@pytest.fixture(scope="module")
def seq_dir(spark, tmp_path_factory):
    """A multi-file sequences-shaped corpus (8 files) derived from the
    documents fixture."""
    out = str(tmp_path_factory.mktemp("rollup") / "sequences")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        "doc_id", "source",
        F.expr("transform(split(text, ' '), w -> abs(hash(w)) % 1000)")
        .cast("array<int>").alias("tokens"))
    (toks.withColumn("n_tok", F.size("tokens"))
     .repartition(8).write.parquet(out))
    return out


def _blob_map(spark, state_dir):
    return {(r["source"], r["sketch_name"]): bytes(r["sketch"])
            for r in R.rollup_state(spark, state_dir).collect()}


def test_incremental_equals_one_shot_byte_identical(spark, seq_dir, tmp_path):
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    import os
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)

    s1 = R.rollup_update(spark, half, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s1["version"] == 1 and s1["new_files"] == 4 and not s1["noop"]

    # second update over the FULL dir: only the 4 unseen files build.
    # the manifest records basenames from a different dir, so copy the
    # remaining files in (same names => dedup by name semantics is
    # exercised via full-path identity: use the full dir as input now)
    for f in files[4:]:
        shutil.copy(f, half)
    s2 = R.rollup_update(spark, half, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s2["version"] == 2 and s2["new_files"] == 4

    # third: nothing new -> noop, version unchanged
    s3 = R.rollup_update(spark, half, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s3["noop"] and s3["version"] == 2

    # metrics leg: cumulative rows_seen recorded per version; the
    # version-to-version delta is the wave-2 ingest volume
    vers = dict(R.rollup_versions(spark, state))
    m1, m2 = vers[1]["rows_seen_total"], vers[2]["rows_seen_total"]
    assert set(m2) == {"dds", "hll"} and m2["dds"] > m1["dds"] > 0

    # byte identity vs a one-shot build over everything
    direct = collect_sketches(
        build_sketches_from_files(spark, half, _specs(),
                                  group_cols=("source",), salt_buckets=4),
        group_cols=("source",))
    stored = _blob_map(spark, state)
    assert set(stored) == set(direct)
    for key, blob in stored.items():
        assert blob == direct[key].to_bytes(), key


def test_query_from_blobs_matches_direct(spark, seq_dir, tmp_path):
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    direct = collect_sketches(
        build_sketches_from_files(spark, seq_dir, _specs(),
                                  group_cols=("source",), salt_buckets=4),
        group_cols=("source",))
    got_q = R.rollup_quantiles(spark, state, "dds",
                               [0.5, 0.95, 0.99]).collect()
    assert len(got_q) == 3 * len({k[0] for k in direct})
    for row in got_q:
        sk = direct[(row["source"], "dds")]
        assert row["estimate"] == sk.quantile(row["q"])
        assert row["n"] == sk.n
    got_c = R.rollup_cardinality(spark, state, "hll").collect()
    for row in got_c:
        assert row["estimate"] == direct[(row["source"], "hll")].cardinality()


def test_aborted_version_is_invisible(spark, seq_dir, tmp_path):
    import os
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    before = R.rollup_versions(spark, state)
    # simulate a crash after the blobs write, before the manifest commit
    os.makedirs(os.path.join(state, "version=2", "blobs"))
    assert R.rollup_versions(spark, state) == before
    assert _blob_map(spark, state)  # still reads version 1


def test_config_mismatch_refused(spark, seq_dir, tmp_path):
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    with pytest.raises(UsageError, match="config mismatch"):
        R.rollup_update(spark, seq_dir, state, _specs()[:1],
                        group_cols=("source",), salt_buckets=4)
    with pytest.raises(UsageError, match="config mismatch"):
        R.rollup_update(spark, seq_dir, state, _specs(),
                        group_cols=(), salt_buckets=4)


def test_rollup_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", state,
        "--group-cols", "source", "--value-col", "n_tok",
        "--tokens-col", "tokens", "--hll-p", "12", "--salt-buckets", "4"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["version"] == 1 and not stats["noop"]
    rc = rollup_sketches.main([
        "query", "--state", state, "--quantiles", "0.5,0.99"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] and all(r["estimate"] > 0 for r in out["rows"])
    rc = rollup_sketches.main(["versions", "--state", state])
    assert rc == 0
    vers = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [v["version"] for v in vers["versions"]] == [1]


def test_query_without_state_errors(spark, tmp_path, capsys):
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    rc = rollup_sketches.main([
        "query", "--state", str(tmp_path / "nope")])
    assert rc == 1
    assert "error" in json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_aborted_version_retry_recovers(spark, seq_dir, tmp_path):
    """The wedge the review found: a killed update leaves
    version=k/blobs without a manifest; the RETRY must reuse that
    version number and overwrite the half-written blobs, not fail on
    errorifexists forever."""
    import os
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    # simulate the crash window: version=2 blobs written, no manifest
    os.makedirs(os.path.join(state, "version=2", "blobs"))
    with open(os.path.join(state, "version=2", "blobs", "junk.parquet"),
              "wb") as fh:
        fh.write(b"not parquet")
    for f in files[4:]:
        shutil.copy(f, half)
    s2 = R.rollup_update(spark, half, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s2["version"] == 2 and s2["new_files"] == 4
    direct = collect_sketches(
        build_sketches_from_files(spark, half, _specs(),
                                  group_cols=("source",), salt_buckets=4),
        group_cols=("source",))
    assert {k: v for k, v in _blob_map(spark, state).items()} == \
        {k: v.to_bytes() for k, v in direct.items()}


def test_spec_parameter_mismatch_refused(spark, seq_dir, tmp_path):
    """Same spec NAMES but different parameters (hll p=12 vs p=14) must
    be refused via the zero-state signature, not explode in an executor
    merge."""
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    other = [
        SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 22),
                   scalar_extractor("n_tok")),
        SketchSpec("hll", lambda: HyperLogLog(p=14),   # p differs
                   array_extractor("tokens")),
    ]
    with pytest.raises(UsageError, match="config mismatch"):
        R.rollup_update(spark, seq_dir, state, other,
                        group_cols=("source",), salt_buckets=4)


def test_corrupted_committed_manifest_raises(spark, seq_dir, tmp_path):
    """A manifest that EXISTS but doesn't parse is corruption of a
    committed version — readers must fail loudly, not silently serve
    the previous version (which would double-merge on the next
    update)."""
    import os
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    with open(os.path.join(state, "version=1", "manifest.json"), "w") as fh:
        fh.write("{truncated")
    with pytest.raises(json.JSONDecodeError):
        R.rollup_versions(spark, state)


def test_path_spelling_does_not_reingest(spark, seq_dir, tmp_path):
    """File identity is the canonical path: reaching the same input via
    a symlinked spelling must be a no-op, not a silent double-merge."""
    import os
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    alias = str(tmp_path / "alias")
    os.symlink(seq_dir, alias)
    s2 = R.rollup_update(spark, alias, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s2["noop"]


def test_prune_keeps_newest_and_inflight(spark, seq_dir, tmp_path):
    import os
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for i, f in enumerate(files):
        shutil.copy(f, half)
        if i % 2 == 1:
            R.rollup_update(spark, half, state, _specs(),
                            group_cols=("source",), salt_buckets=4)
    assert [v for v, _ in R.rollup_versions(spark, state)] == [1, 2, 3, 4]
    # an in-flight (aborted, NEWER than tip) attempt must survive prune
    os.makedirs(os.path.join(state, "version=5", "blobs"))
    got = R.rollup_prune(spark, state, keep=2)
    assert got == {"deleted": [1, 2], "kept": [3, 4]}
    assert [v for v, _ in R.rollup_versions(spark, state)] == [3, 4]
    assert os.path.isdir(os.path.join(state, "version=5"))
    # queries still answer from the kept tip
    assert R.rollup_quantiles(spark, state, "dds", [0.5]).count() > 0


def test_empty_sketch_yields_null_not_crash(spark, tmp_path):
    """A group whose value column is entirely NULL stores an n=0 sketch;
    quantile queries must emit SQL NULL for it and real estimates for
    the rest (the Arrow rendering of the reference's empty-bin NaN
    rule), not die in the worker."""
    import os
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [("a", 10, [1, 2]), ("a", 20, [3]), ("b", None, [4])],
        "source string, n_tok int, tokens array<int>")
    df.repartition(1).write.parquet(src)
    state = str(tmp_path / "state")
    R.rollup_update(spark, src, state, _specs(),
                    group_cols=("source",), salt_buckets=2)
    rows = {r["source"]: r["estimate"]
            for r in R.rollup_quantiles(spark, state, "dds", [0.5]).collect()}
    assert rows["a"] > 0 and rows["b"] is None


def test_unsupported_query_method_is_clean_error(spark, seq_dir, tmp_path, capsys):
    """Asking an HLL blob for quantiles surfaces the typed UsageError
    through the CLI's JSON error contract, not an AttributeError
    traceback."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    rc = rollup_sketches.main(["query", "--state", state, "--sketch", "hll"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "does not support" in err["error"]


def test_absent_sketch_name_is_clean_error(spark, seq_dir, tmp_path, capsys):
    """Querying a sketch name the state never stored is a typed error
    naming what IS stored (the manifest knows), not a silent empty
    result set."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    rc = rollup_sketches.main(
        ["cardinality", "--state", state, "--sketch", "theta"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "no 'theta' blobs" in err["error"]


def test_stream_update_matches_one_shot(spark, seq_dir, tmp_path):
    """availableNow streaming maintenance over a drop dir: two waves,
    forced multi-batch passes (maxFilesPerTrigger=2), final blobs
    byte-identical to a one-shot build; manifest lineage makes a later
    batch rollup_update a no-op (stream -> batch interop); a pass with
    nothing new is a no-op."""
    import os
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    files = parquet_file_list(seq_dir)
    for f in files[:4]:
        shutil.copy(f, drop)
    s1 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4, max_files_per_trigger=2)
    assert s1["batches"] == 2 and s1["new_files"] == 4 and not s1["noop"]
    for f in files[4:]:
        shutil.copy(f, drop)
    s2 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4, max_files_per_trigger=2)
    assert s2["batches"] == 2 and s2["total_files"] == 8

    direct = collect_sketches(
        build_sketches_from_files(spark, drop, _specs(),
                                  group_cols=("source",), salt_buckets=4),
        group_cols=("source",))
    assert _blob_map(spark, state) == \
        {k: v.to_bytes() for k, v in direct.items()}

    s3 = R.rollup_update(spark, drop, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s3["noop"]
    s4 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4)
    assert s4["noop"] and s4["batches"] == 0


def test_stream_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "stream", "--input", seq_dir, "--state", state,
        "--checkpoint", str(tmp_path / "ck"),
        "--group-cols", "source", "--value-col", "n_tok",
        "--tokens-col", "tokens", "--hll-p", "12", "--salt-buckets", "4"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["version"] >= 1 and not stats["noop"]
    rc = rollup_sketches.main([
        "query", "--state", state, "--quantiles", "0.5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] and all(r["estimate"] > 0 for r in out["rows"])


def test_multi_family_warehouse_cli(spark, seq_dir, tmp_path, capsys):
    """One update pass stores all nine sketch families; quantile queries
    answer from any scalar family's blobs and cardinality from any
    token family's — the north rule's sketch set behind one CLI."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    fams = "dds,kll,tdigest,req,moments,hll,theta,cms,bloom"
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", state,
        "--group-cols", "source", "--tokens-col", "tokens",
        "--sketches", fams, "--salt-buckets", "4"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["version"] == 1
    names = {r["sketch_name"]
             for r in R.rollup_state(spark, state).collect()}
    assert names == set(fams.split(","))
    for fam in ("kll", "tdigest", "req"):
        rc = rollup_sketches.main([
            "query", "--state", state, "--sketch", fam,
            "--quantiles", "0.5,0.99"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] and all(r["estimate"] > 0 for r in out["rows"])
    rc = rollup_sketches.main(
        ["cardinality", "--state", state, "--sketch", "theta"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] and all(r["estimate"] > 0 for r in out["rows"])


def test_unknown_sketch_family_is_clean_error(spark, seq_dir, tmp_path, capsys):
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", str(tmp_path / "s"),
        "--sketches", "dds,nope"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "unknown sketch family" in err["error"]
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", str(tmp_path / "s2"),
        "--sketches", "theta"])  # token family without --tokens-col
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "ingests token" in err["error"]


def test_duplicate_and_explicit_default_families(spark, seq_dir, tmp_path, capsys):
    """Review findings: duplicate family names must be refused (they
    would fold together and double counts), and an EXPLICIT
    '--sketches dds,hll' without --tokens-col must error rather than
    silently dropping hll (only the implicit default skips it)."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", str(tmp_path / "s"),
        "--sketches", "dds,dds"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "duplicate sketch family" in err["error"]
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", str(tmp_path / "s2"),
        "--sketches", "dds,hll"])  # explicit, no --tokens-col
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "ingests token" in err["error"]


def test_stream_empty_drop_dir_is_noop(spark, tmp_path):
    """A cron'd stream pass racing the producer (drop dir VERIFIABLY
    absent or empty, by FS probe) is a no-op — but a glob input that
    matches nothing keeps raising loudly: exists() can't expand
    patterns, so a typo'd glob must not report healthy-idle forever."""
    import os
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    for d in (str(tmp_path / "absent"), empty):
        got = R.rollup_stream_update(
            spark, d, str(tmp_path / "state"), _specs(),
            group_cols=("source",), checkpoint_dir=str(tmp_path / "ck"))
        assert got == {"version": 0, "batches": 0, "batches_fenced": 0,
                       "new_files": 0, "total_files": 0, "noop": True,
                       "reason": "input dir absent or empty "
                                 "(producer race)"}
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        R.rollup_stream_update(
            spark, str(tmp_path / "nope-*"), str(tmp_path / "state"),
            _specs(), group_cols=("source",),
            checkpoint_dir=str(tmp_path / "ck2"))


def test_topk_exact_when_capacity_exceeds_universe(spark, seq_dir, tmp_path):
    """k >= the distinct-item universe means SpaceSaving never evicts:
    the warehouse top-m must equal the exact per-group frequency
    ranking (count desc, item asc) with zero error bars — including
    after an incremental second update (merge keeps exactness)."""
    import os
    from pyspark.sql import Window
    from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
    state = str(tmp_path / "state")
    specs = [SketchSpec("spacesaving", lambda: SpaceSaving(k=2048),
                        array_extractor("tokens"))]
    files = parquet_file_list(seq_dir)
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for f in files[:4]:
        shutil.copy(f, drop)
    R.rollup_update(spark, drop, state, specs,
                    group_cols=("source",), salt_buckets=4)
    for f in files[4:]:
        shutil.copy(f, drop)
    R.rollup_update(spark, drop, state, specs,
                    group_cols=("source",), salt_buckets=4)
    got = R.rollup_topk(spark, state, "spacesaving", m=5).collect()
    exact = (spark.read.parquet(seq_dir)
             .select("source", F.explode("tokens").alias("item"))
             .groupBy("source", "item").count()
             .withColumn("rank", F.row_number().over(
                 Window.partitionBy("source")
                 .orderBy(F.desc("count"), F.asc("item"))))
             .where(F.col("rank") <= 5).collect())
    em = {(r["source"], r["rank"]): (r["item"], r["count"]) for r in exact}
    assert got and len(got) == len(em)
    for r in got:
        item, cnt = em[(r["source"], r["rank"])]
        assert (r["item"], r["count_est"], r["count_err"]) == (item, cnt, 0)


def test_topk_cli_guarantee_and_unsupported_sketch(spark, seq_dir, tmp_path,
                                                   capsys):
    """Small-k SpaceSaving overestimates but never past its error bar:
    every CLI topk row must satisfy est - err <= true <= est. A stored
    family without `.top` (hll) is a clean JSON error, not a crash."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", seq_dir, "--state", state,
        "--group-cols", "source", "--tokens-col", "tokens",
        "--sketches", "spacesaving,hll", "--ss-k", "16",
        "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()
    rc = rollup_sketches.main(["topk", "--state", state, "--m", "3"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    true = {(r["source"], r["item"]): r["count"] for r in
            (spark.read.parquet(seq_dir)
             .select("source", F.explode("tokens").alias("item"))
             .groupBy("source", "item").count()).collect()}
    assert out["rows"]
    for r in out["rows"]:
        t = true[(r["source"], r["item"])]
        assert r["count_est"] - r["count_err"] <= t <= r["count_est"]
        assert 1 <= r["rank"] <= 3
    rc = rollup_sketches.main(["topk", "--state", state, "--sketch", "hll"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err


def test_topk_drift_churn_matches_exact_rankings(spark, seq_dir, tmp_path):
    """Top-k churn between two committed versions must agree with the
    exact per-version rankings computed independently: every to-side
    top-m item is 'entered' or 'moved', every vanished from-side item
    is 'left', and at k >= universe the survivor deltas equal the exact
    count gained between the versions."""
    import os
    from pyspark.sql import Window
    from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
    state = str(tmp_path / "state")
    specs = [SketchSpec("spacesaving", lambda: SpaceSaving(k=2048),
                        array_extractor("tokens"))]
    files = parquet_file_list(seq_dir)
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for f in files[:4]:
        shutil.copy(f, drop)
    R.rollup_update(spark, drop, state, specs,
                    group_cols=("source",), salt_buckets=4)
    for f in files[4:]:
        shutil.copy(f, drop)
    R.rollup_update(spark, drop, state, specs,
                    group_cols=("source",), salt_buckets=4)

    m = 5
    got = R.rollup_topk_drift(spark, state, "spacesaving", m=m).collect()

    def exact_top(paths):
        w = Window.partitionBy("source").orderBy(F.desc("count"),
                                                 F.asc("item"))
        return {(r["source"], r["item"]): (r["rank"], r["count"]) for r in
                (spark.read.parquet(*paths)
                 .select("source", F.explode("tokens").alias("item"))
                 .groupBy("source", "item").count()
                 .withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= m)).collect()}

    t1 = exact_top([os.path.join(drop, os.path.basename(f))
                    for f in files[:4]])
    t2 = exact_top([drop])
    assert {(r["source"], r["item"]) for r in got} == set(t1) | set(t2)
    # exact full-corpus counts for survivor delta verification
    full = {(r["source"], r["item"]): r["count"] for r in
            (spark.read.parquet(drop)
             .select("source", F.explode("tokens").alias("item"))
             .groupBy("source", "item").count()).collect()}
    for r in got:
        key = (r["source"], r["item"])
        if key in t1 and key in t2:
            assert r["status"] == "moved"
            assert (r["rank_from"], r["count_from"]) == t1[key]
            assert (r["rank_to"], r["count_to"]) == t2[key]
            assert r["delta"] == full[key] - t1[key][1]
        elif key in t2:
            assert r["status"] == "entered" and r["rank_from"] is None \
                and r["count_from"] is None and r["delta"] is None
            assert (r["rank_to"], r["count_to"]) == t2[key]
        else:
            assert r["status"] == "left" and r["rank_to"] is None
            assert (r["rank_from"], r["count_from"]) == t1[key]


def test_topk_drift_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    import sys
    import os
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for f in files[:4]:
        shutil.copy(f, drop)
    common = ["--state", state, "--group-cols", "source",
              "--tokens-col", "tokens", "--sketches", "spacesaving",
              "--ss-k", "32", "--salt-buckets", "4"]
    assert rollup_sketches.main(["update", "--input", drop] + common) == 0
    for f in files[4:]:
        shutil.copy(f, drop)
    assert rollup_sketches.main(["update", "--input", drop] + common) == 0
    capsys.readouterr()
    rc = rollup_sketches.main(["topk-drift", "--state", state, "--m", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["from"] == 1 and out["to"] == 2 and out["rows"]
    assert {r["status"] for r in out["rows"]} <= {"entered", "left", "moved"}
    moved = [r for r in out["rows"] if r["status"] == "moved"]
    assert moved and all(r["delta"] == r["count_to"] - r["count_from"]
                         for r in moved)
    # --version time-travel: the v1 top-k through the CLI must restate
    # the drift rows' from-side exactly
    rc = rollup_sketches.main(["topk", "--state", state, "--m", "4",
                               "--version", "1"])
    assert rc == 0
    v1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    from_side = {(r["source"], r["item"]): (r["rank_from"], r["count_from"])
                 for r in out["rows"] if r["rank_from"] is not None}
    assert from_side == {(r["source"], r["item"]):
                         (r["rank"], r["count_est"]) for r in v1["rows"]}


def test_resolve_drift_versions_snapshot():
    """Pure resolution over one rollup_versions listing: defaults pick
    (previous, latest); explicit picks validate against the snapshot."""
    versions = [(1, {}), (2, {}), (4, {})]
    assert R.resolve_drift_versions(versions) == (2, 4)
    assert R.resolve_drift_versions(versions, v_to=2) == (1, 2)
    assert R.resolve_drift_versions(versions, v_from=1, v_to=4) == (1, 4)
    with pytest.raises(UsageError, match="no committed version 3"):
        R.resolve_drift_versions(versions, v_to=3)
    with pytest.raises(UsageError, match="no committed version 0"):
        R.resolve_drift_versions(versions, v_from=0, v_to=2)
    with pytest.raises(UsageError, match="no earlier committed"):
        R.resolve_drift_versions([(1, {})])
    with pytest.raises(UsageError, match="no committed rollup state"):
        R.resolve_drift_versions([])


def test_checkpoint_reset_fences_or_refuses(spark, seq_dir, tmp_path):
    """Deleting and recreating the checkpoint must NOT silently lose
    files: a reset over unchanged input re-emits only committed files
    (subset rule -> fenced no-op); a reset after NEW files landed mixes
    old and new in one batch and is refused loudly."""
    import os
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    files = parquet_file_list(seq_dir)
    for f in files[:4]:
        shutil.copy(f, drop)
    R.rollup_stream_update(spark, drop, state, _specs(),
                           group_cols=("source",), checkpoint_dir=ck,
                           salt_buckets=4)
    # reset 1: same input -> every re-emitted batch is a fenced replay
    shutil.rmtree(ck)
    s2 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4)
    assert s2["batches"] == 0 and s2["batches_fenced"] >= 1
    # reset 2: new files landed -> mixed batch refused, nothing merged
    shutil.rmtree(ck)
    for f in files[4:]:
        shutil.copy(f, drop)
    before = _blob_map(spark, state)
    with pytest.raises(Exception, match="mixes files already"):
        R.rollup_stream_update(spark, drop, state, _specs(),
                               group_cols=("source",), checkpoint_dir=ck,
                               salt_buckets=4)
    assert _blob_map(spark, state) == before


def test_batch_built_state_then_stream_fenced_not_wedged(
        spark, seq_dir, tmp_path):
    """Review finding: the fence must not depend on stream keys in the
    LATEST manifest (a batch-mode commit carries none). Batch-build the
    state, then point a FRESH stream checkpoint at the same quiescent
    drop dir: every re-emitted batch is file-subset fenced (no loss, no
    double-merge, no wedge), and a later pass ingests ONLY files that
    landed after the migration — the batch -> stream migration path."""
    import os
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    files = parquet_file_list(seq_dir)
    for f in files[:4]:
        shutil.copy(f, drop)
    R.rollup_update(spark, drop, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    s1 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4)
    assert s1["batches"] == 0 and s1["batches_fenced"] >= 1
    for f in files[4:]:
        shutil.copy(f, drop)
    s2 = R.rollup_stream_update(spark, drop, state, _specs(),
                                group_cols=("source",), checkpoint_dir=ck,
                                salt_buckets=4)
    assert s2["batches"] == 1 and s2["new_files"] == 4
    direct = collect_sketches(
        build_sketches_from_files(spark, drop, _specs(),
                                  group_cols=("source",), salt_buckets=4),
        group_cols=("source",))
    assert _blob_map(spark, state) == \
        {k: v.to_bytes() for k, v in direct.items()}


def test_drift_quantiles_between_versions(spark, seq_dir, tmp_path):
    """Two updates -> two committed versions; drift rows must equal the
    independently-computed per-version quantile estimates joined per
    (group, q), with delta = est_to - est_from and each side's n."""
    import os
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)

    qs = (0.5, 0.99)
    drift = {(r["source"], r["q"]): r for r in
             R.rollup_drift(spark, state, "dds", qs=qs).collect()}
    # independent per-version answers through the public query path
    v1 = {(r["source"], r["q"]): r for r in
          R.rollup_quantiles(spark, state, "dds", list(qs)).collect()}
    assert len(drift) == len(v1)
    # version pinning: querying the older committed version directly
    # must reproduce the drift rows' from-side exactly
    v0 = {(r["source"], r["q"]): r for r in
          R.rollup_quantiles(spark, state, "dds", list(qs),
                             version=1).collect()}
    for k, r in drift.items():
        assert r["est_to"] == v1[k]["estimate"]
        assert r["est_from"] == v0[k]["estimate"]
        assert r["delta"] == pytest.approx(r["est_to"] - r["est_from"])
        assert r["n_from"] <= r["n_to"]


def test_drift_cardinality_and_new_group(spark, seq_dir, tmp_path):
    """qs=() drives cardinality drift; a group that exists only in the
    newer version emits est_from NULL (new groups ARE drift)."""
    import os
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    # second update adds a brand-new group on top of the full corpus
    extra = str(tmp_path / "extra")
    (spark.read.parquet(seq_dir)
     .withColumn("source", F.lit("brand_new_source"))
     .limit(50).write.parquet(extra))
    full = str(tmp_path / "full")
    os.makedirs(full)
    for f in files[4:]:
        shutil.copy(f, full)
    for f in parquet_file_list(extra):
        shutil.copy(f, full)
    R.rollup_update(spark, full, state, _specs(),
                    group_cols=("source",), salt_buckets=4)

    rows = {r["source"]: r for r in
            R.rollup_drift(spark, state, "hll", qs=()).collect()}
    nw = rows["brand_new_source"]
    assert nw["est_from"] is None and nw["n_from"] is None
    assert nw["est_to"] > 0 and nw["delta"] is None
    old = [r for s, r in rows.items() if s != "brand_new_source"]
    assert old and all(r["est_from"] is not None and
                       r["est_to"] >= r["est_from"] - 1e-9 for r in old)


def test_drift_version_selection_and_errors(spark, seq_dir, tmp_path):
    """Explicit --from/--to pick versions; a single-version state has
    nothing to drift against; unknown versions are clean errors."""
    import os
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    with pytest.raises(UsageError, match="no earlier committed version"):
        R.rollup_drift(spark, state, "dds")
    # self-drift via explicit versions: delta identically 0
    same = R.rollup_drift(spark, state, "dds", qs=(0.5,),
                          v_from=1, v_to=1).collect()
    assert same and all(r["delta"] == 0.0 for r in same)
    with pytest.raises(UsageError, match="no committed version 9"):
        R.rollup_drift(spark, state, "dds", v_from=9, v_to=1)


def test_drift_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    import sys
    import os
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    for inp in (half, seq_dir):
        rc = rollup_sketches.main([
            "update", "--input", inp, "--state", state,
            "--group-cols", "source", "--value-col", "n_tok",
            "--tokens-col", "tokens", "--hll-p", "12",
            "--salt-buckets", "4"])
        assert rc == 0
        capsys.readouterr()
    rc = rollup_sketches.main([
        "drift", "--state", state, "--quantiles", "0.5,0.99"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["from"] == 1 and out["to"] == 2
    assert out["rows"] and all("delta" in r for r in out["rows"])
    # ingest context comes from the manifests' cumulative metrics
    assert out["rows_ingested_between"]["dds"] > 0


# ---------------------------------------------------- sliding-window families

def test_sliding_warehouse_window_queries_match_exact(spark, tmp_path, capsys):
    """shll/ecm/eh families through the full warehouse path: update from
    events, then answer trailing-window distinct / frequency / row-rate
    questions from the stored blobs — pinned against exact pandas
    recomputation (SHLL windows are byte-identical to fresh HLLs, so the
    distinct estimate must EQUAL the fresh-HLL estimate; ECM/EH carry
    their hard error receipts)."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.sketches.hll import HyperLogLog

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "user_id",
        "--ts-col", "ts", "--sketches", "shll,ecm,eh",
        "--hll-p", "12", "--ecm-width", "512", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    # a negative window is refused loudly (it would silently cover
    # nothing and print empty/NaN rows as if the state were empty)
    rc = rollup_sketches.main([
        "window-cardinality", "--state", state, "--windows=-7d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "bad window" in err["error"]

    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "user_id", "ts").toPandas())
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
    day_us = 86_400_000_000

    # window-cardinality: per-group estimate == fresh HLL over the window
    rc = rollup_sketches.main([
        "window-cardinality", "--state", state, "--windows", "7d"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["windows"] == [7 * day_us]
    for row in out["rows"]:
        g = pdf["event_type"] == row["event_type"]
        cutoff = ts_us[g].max() - 7 * day_us + 1
        win_vals = pdf.loc[g & (ts_us >= cutoff), "user_id"].to_numpy("int64")
        fresh = HyperLogLog(p=12).update_batch(win_vals).cardinality()
        assert row["estimate"] == pytest.approx(fresh)
        exact = len(np.unique(win_vals))
        assert row["estimate"] == pytest.approx(exact, rel=0.15)

    # window-count: hard upper bound holds per (group, key)
    keys = [int(k) for k in np.unique(pdf["user_id"])[:5]]
    rc = rollup_sketches.main([
        "window-count", "--state", state,
        "--keys", ",".join(map(str, keys)), "--windows", "3d"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]
    for row in out["rows"]:
        g = pdf["event_type"] == row["event_type"]
        cutoff = ts_us[g].max() - 3 * day_us
        true = int((g & (ts_us > cutoff)
                    & (pdf["user_id"] == row["item"])).sum())
        assert row["estimate"] + row["err_bound"] + 1e-6 >= true

    # window-rows: |estimate - truth| <= err_bound per group
    rc = rollup_sketches.main([
        "window-rows", "--state", state, "--windows", "1d,30d"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]
    for row in out["rows"]:
        g = pdf["event_type"] == row["event_type"]
        cutoff = ts_us[g].max() - row["window"]
        true = int((g & (ts_us > cutoff)).sum())
        assert abs(row["estimate"] - true) <= row["err_bound"] + 1e-6


def test_sliding_incremental_shll_byte_identical(spark, tmp_path):
    """Split ingest of the shll family == one-shot, byte-identical blobs
    (the skyline is canonical, so warehouse increments commute)."""
    from p2pddsketch_spark.operators.harness import pair_extractor
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    full_dir = str(tmp_path / "full")
    ev.where(F.dayofmonth("ts") <= 15).write.parquet(a_dir)
    ev.where(F.dayofmonth("ts") > 15).write.parquet(b_dir)
    ev.write.parquet(full_dir)

    def specs():
        return [SketchSpec("shll", lambda: SlidingHyperLogLog(p=12),
                           pair_extractor("user_id", "ts"))]

    inc = str(tmp_path / "inc")
    one = str(tmp_path / "one")
    R.rollup_update(spark, a_dir, inc, specs(), group_cols=("event_type",))
    R.rollup_update(spark, b_dir, inc, specs(), group_cols=("event_type",))
    R.rollup_update(spark, full_dir, one, specs(), group_cols=("event_type",))
    bi = {r["event_type"]: bytes(r["sketch"])
          for r in R.rollup_state(spark, inc).collect()}
    bo = {r["event_type"]: bytes(r["sketch"])
          for r in R.rollup_state(spark, one).collect()}
    assert bi == bo


def test_sliding_family_without_ts_col_is_clean_error(spark, tmp_path,
                                                      capsys):
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet",
        "--state", str(tmp_path / "state"),
        "--value-col", "user_id", "--sketches", "shll"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--ts-col" in err["error"]


def test_window_query_on_wrong_family_is_clean_error(spark, tmp_path,
                                                     capsys):
    """window-cardinality over an eh blob (no distinct_in_last) must be
    the documented one-line JSON error, not a traceback."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "user_id",
        "--ts-col", "ts", "--sketches", "eh", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()
    rc = rollup_sketches.main([
        "window-cardinality", "--state", state, "--sketch", "eh",
        "--windows", "1d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "distinct_in_last" in err["error"]


def test_wdds_warehouse_window_quantiles_match_exact(spark, tmp_path, capsys):
    """wdds family through the full warehouse path: update from events,
    then answer trailing-window quantiles from the stored blob — pinned
    against exact recomputation over each row's REPORTED covered range
    (coverage is bucket-granular and the row says exactly what it
    covered, so the estimate must satisfy DDSketch's alpha contract on
    precisely those rows, reference testQuantile rank convention)."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "value",
        "--ts-col", "ts", "--sketches", "wdds", "--alpha", "0.01",
        "--wdds-bucket", "1d", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "value", "ts").toPandas())
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")

    rc = rollup_sketches.main([
        "window-quantiles", "--state", state, "--windows", "7d",
        "--quantiles", "0.5,0.95,0.99"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]
    day_us = 86_400_000_000
    assert out["windows"] == [7 * day_us]
    for row in out["rows"]:
        g = pdf["event_type"] == row["event_type"]
        m = g & (ts_us >= row["covered_from"]) & (ts_us < row["covered_to"])
        vals = pdf.loc[m, "value"].to_numpy(float)
        assert row["n_covered"] == int(m.sum())
        # bucket-granular coverage: the window's span, give or take one
        # straddling bucket at the old edge
        span = row["covered_to"] - row["covered_from"]
        assert 7 * day_us <= span <= 8 * day_us
        srt = np.sort(vals)
        ex = float(srt[int(np.floor(1 + row["q"] * (srt.size - 1))) - 1])
        assert abs(row["estimate"] - ex) / abs(ex) <= 0.0101

    # the generic full-history `query` path answers from the same blob
    rc = rollup_sketches.main([
        "query", "--state", state, "--sketch", "wdds",
        "--quantiles", "0.5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for row in out["rows"]:
        vals = pdf.loc[pdf["event_type"] == row["event_type"],
                       "value"].to_numpy(float)
        srt = np.sort(vals)
        ex = float(srt[int(np.floor(1 + 0.5 * (srt.size - 1))) - 1])
        assert abs(row["estimate"] - ex) / abs(ex) <= 0.0101


def test_wdds_incremental_update_byte_identical(spark, tmp_path):
    """Two-step wdds warehouse advance == one-shot build over both
    files, byte for byte — the fold-into-tail retention cap must not
    break the published-state identity the warehouse is built on."""
    from p2pddsketch_spark.operators.rollup import rollup_state, rollup_update
    from p2pddsketch_spark.operators.harness import (SketchSpec,
                                                     vpair_extractor)
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch

    import pyarrow as pa
    import pyarrow.parquet as pq
    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "value", "ts", "user_id").toPandas())
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't read ns
    data = tmp_path / "data"
    data.mkdir()
    a = str(data / "a.parquet")
    b = str(data / "b.parquet")
    pq.write_table(pa.Table.from_pandas(pdf[pdf.user_id % 2 == 0]), a)
    pq.write_table(pa.Table.from_pandas(pdf[pdf.user_id % 2 == 1]), b)

    def spec():
        # small cap so the fold path is actually exercised
        return [SketchSpec("wdds",
                           lambda: WindowedDDSketch(alpha=0.01,
                                                    bucket_width=86_400_000_000,
                                                    max_buckets=4),
                           vpair_extractor("value", "ts"))]

    inc = str(tmp_path / "inc")
    rollup_update(spark, a, inc, spec(), group_cols=("event_type",),
                  salt_buckets=4)
    rollup_update(spark, b, inc, spec(), group_cols=("event_type",),
                  salt_buckets=4)
    both = str(tmp_path / "both")
    rollup_update(spark, str(data), both, spec(),
                  group_cols=("event_type",), salt_buckets=4)

    blobs_inc = {r["event_type"]: bytes(r["sketch"])
                 for r in rollup_state(spark, inc).collect()}
    blobs_one = {r["event_type"]: bytes(r["sketch"])
                 for r in rollup_state(spark, both).collect()}
    assert blobs_inc == blobs_one


def test_stream_update_sliding_family_byte_identical(spark, tmp_path):
    """Structured-Streaming warehouse maintenance of SLIDING sketches:
    a drop dir streamed into a wdds+shll rollup (two availableNow
    passes, forced multi-batch) publishes blobs byte-identical to a
    one-shot batch build — the continuous-monitoring story (trailing
    p95 / distinct-users windows maintained by a stream job) reduces to
    the same order-invariant merge algebra as everything else. A
    trailing-window query answers from the streamed state."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from p2pddsketch_spark.operators.harness import (pair_extractor,
                                                     vpair_extractor)
    from p2pddsketch_spark.operators.rollup import (rollup_state,
                                                    rollup_window_quantiles)
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch

    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "value", "ts", "user_id").toPandas())
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    drop = tmp_path / "drop"
    drop.mkdir()
    for i in range(4):
        pq.write_table(pa.Table.from_pandas(pdf[pdf.user_id % 4 == i]),
                       str(drop / f"part{i}.parquet"))

    def specs():
        return [
            SketchSpec("wdds",
                       lambda: WindowedDDSketch(alpha=0.01,
                                                bucket_width=86_400_000_000,
                                                max_buckets=4),
                       vpair_extractor("value", "ts")),
            SketchSpec("shll", lambda: SlidingHyperLogLog(p=12),
                       pair_extractor("user_id", "ts")),
        ]

    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    files = sorted(os.path.join(str(drop), f) for f in os.listdir(drop))
    stage = tmp_path / "stage"
    stage.mkdir()
    for f in files[:2]:
        shutil.copy(f, stage)
    s1 = R.rollup_stream_update(spark, str(stage), state, specs(),
                                group_cols=("event_type",),
                                checkpoint_dir=ck, salt_buckets=4,
                                max_files_per_trigger=1)
    assert s1["batches"] == 2 and s1["new_files"] == 2
    for f in files[2:]:
        shutil.copy(f, stage)
    s2 = R.rollup_stream_update(spark, str(stage), state, specs(),
                                group_cols=("event_type",),
                                checkpoint_dir=ck, salt_buckets=4,
                                max_files_per_trigger=1)
    assert s2["batches"] == 2 and s2["total_files"] == 4

    one = str(tmp_path / "oneshot")
    R.rollup_update(spark, str(stage), one, specs(),
                    group_cols=("event_type",), salt_buckets=4)
    blobs_stream = {(r["event_type"], r["sketch_name"]): bytes(r["sketch"])
                    for r in rollup_state(spark, state).collect()}
    blobs_one = {(r["event_type"], r["sketch_name"]): bytes(r["sketch"])
                 for r in rollup_state(spark, one).collect()}
    assert blobs_stream == blobs_one
    assert len(blobs_stream) == 2 * pdf["event_type"].nunique()

    out = rollup_window_quantiles(spark, state, [0.5],
                                  [7 * 86_400_000_000],
                                  sketch_name="wdds").collect()
    assert out and all(r["n_covered"] > 0 for r in out)


def test_window_drift_adjacent_semantics(spark, tmp_path, capsys):
    """window-drift compares back-to-back windows of the SAME blob:
    wdds reads the previous window from its time-indexed buckets (CLI
    rows must equal a local decode of the stored blob at both anchors,
    and the EH previous window must be the suffix-count DIFFERENCE —
    within its summed hard receipt of the true adjacent-window count,
    NOT the naive suffix count that double-covers the current window).
    shll is refused (interval distinct from a suffix skyline is
    undefined) with the one-line JSON error contract."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.operators.harness import sketch_from_bytes
    from p2pddsketch_spark.operators.rollup import rollup_state

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "value",
        "--ts-col", "ts", "--sketches", "wdds,eh,shll",
        "--wdds-bucket", "1d", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "value", "ts").toPandas())
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
    day_us = 86_400_000_000
    w = 7 * day_us

    blobs = {(r["sketch_name"], r["event_type"]): bytes(r["sketch"])
             for r in rollup_state(spark, state).collect()}

    rc = rollup_sketches.main([
        "window-drift", "--state", state, "--windows", "7d",
        "--quantiles", "0.5,0.99"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {r["metric"] for r in out["rows"]} == {"q0.5", "q0.99"}
    for row in out["rows"]:
        sk = sketch_from_bytes(blobs[("wdds", row["event_type"])])
        q = float(row["metric"][1:])
        ref = int(sk.t_max)
        cur, _, lo_c, _ = sk.window_quantiles([q], window=w, now=ref)
        prv, _, lo_p, hi_p = sk.window_quantiles([q], window=w,
                                                 now=lo_c - 1)
        assert row["current"] == pytest.approx(float(cur[0]))
        assert row["previous"] == pytest.approx(float(prv[0]))
        assert row["delta"] == pytest.approx(row["current"] - row["previous"])
        # the previous anchor reads an exactly-disjoint, tiling range
        assert hi_p == lo_c
        # and its estimate honors alpha over that range's exact quantile
        g = pdf["event_type"] == row["event_type"]
        vals = pdf.loc[g & (ts_us >= lo_p) & (ts_us < hi_p),
                       "value"].to_numpy(float)
        srt = np.sort(vals)
        ex = float(srt[int(np.floor(1 + q * (srt.size - 1))) - 1])
        assert abs(row["previous"] - ex) / abs(ex) <= 0.0101

    rc = rollup_sketches.main([
        "window-drift", "--state", state, "--sketch", "eh",
        "--windows", "7d"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]
    for row in out["rows"]:
        g = pdf["event_type"] == row["event_type"]
        ref = int(ts_us[g].max())
        true_cur = int((g & (ts_us > ref - w)).sum())
        true_prev = int((g & (ts_us > ref - 2 * w) & (ts_us <= ref - w)).sum())
        assert abs(row["current"] - true_cur) <= row["cur_err"] + 1e-6
        assert abs(row["previous"] - true_prev) <= row["prev_err"] + 1e-6
        # the receipt check above has teeth against the naive-suffix
        # regression (previous = count(ts > ref-2w), off by true_cur)
        # only while the bound is tighter than the current window:
        assert row["prev_err"] < true_cur

    rc = rollup_sketches.main([
        "window-drift", "--state", state, "--sketch", "shll",
        "--windows", "7d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "adjacent-window drift" in err["error"]


def test_window_drift_silent_group_reports_previous(spark, tmp_path, capsys):
    """A group whose CURRENT window is empty (it went silent) must
    report (previous = real quantiles, current = NaN) — not NaN/NaN.
    Regression: the wdds path anchored the previous window at the
    empty current coverage's 0 sentinel (lo_c - 1 = -1), erasing the
    loudest alert; the guard mirrors window-topk-drift's."""
    import math
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.operators.harness import sketch_from_bytes
    from p2pddsketch_spark.operators.rollup import rollup_state

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "value",
        "--ts-col", "ts", "--sketches", "wdds",
        "--wdds-bucket", "1d", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    pdf = (spark.read.parquet(f"{SF_DIR}/events.parquet")
           .select("event_type", "value", "ts").toPandas())
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
    day_us = 86_400_000_000
    w = 7 * day_us
    # every group silent for a full window: anchor one bucket boundary
    # past the newest data, plus the window (coverage is bucket-granular,
    # so a non-aligned anchor would still include the straddling bucket)
    now = (int(ts_us.max()) // day_us + 1) * day_us + w

    blobs = {r["event_type"]: bytes(r["sketch"])
             for r in rollup_state(spark, state).collect()}
    rc = rollup_sketches.main([
        "window-drift", "--state", state, "--windows", "7d",
        "--quantiles", "0.5,0.99", "--now", str(now)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]
    for row in out["rows"]:
        sk = sketch_from_bytes(blobs[row["event_type"]])
        q = float(row["metric"][1:])
        # silent window: NaN rides to JSON as null
        assert row["current"] is None or math.isnan(row["current"])
        prv, n_p, _, _ = sk.window_quantiles([q], window=w, now=now - w)
        assert n_p > 0
        assert row["previous"] is not None
        assert row["previous"] == pytest.approx(float(prv[0]))


def test_histogram_is_lossless_blob_dump(spark, tmp_path, capsys):
    """`histogram` dumps the stored DDSketch state losslessly (the
    log-γ bin table IS the sketch): CLI rows == local decode's
    to_bins_table row for row, counts conserve the group's row count,
    the wdds windowed variant conserves exactly the window coverage,
    and --window against plain dds blobs is the clean JSON error."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.operators.harness import sketch_from_bytes
    from p2pddsketch_spark.operators.rollup import rollup_state

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "value",
        "--ts-col", "ts", "--sketches", "dds,wdds",
        "--wdds-bucket", "1d", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    blobs = {(r["sketch_name"], r["event_type"]): bytes(r["sketch"])
             for r in rollup_state(spark, state).collect()}
    rows_seen = {r["event_type"]: r["rows_seen"]
                 for r in rollup_state(spark, state)
                 .where("sketch_name = 'dds'").collect()}

    rc = rollup_sketches.main(["histogram", "--state", state])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_group: dict = {}
    for r in out["rows"]:
        by_group.setdefault(r["event_type"], []).append(r)
    for g, rows in by_group.items():
        sk = sketch_from_bytes(blobs[("dds", g)])
        want = sk.to_bins_table()
        assert [(r["key"], r["count"], r["lower"], r["upper"],
                 r["estimate"]) for r in rows] == \
               [(b["key"], b["count"], b["lower"], b["upper"],
                 b["estimate"]) for b in want]
        assert sum(r["count"] for r in rows) == rows_seen[g]

    # windowed histogram over wdds conserves the coverage row count
    rc = rollup_sketches.main([
        "histogram", "--state", state, "--sketch", "wdds",
        "--window", "7d"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    w = 7 * 86_400_000_000
    for g in by_group:
        sk = sketch_from_bytes(blobs[("wdds", g)])
        _, n_cov, _, _ = sk.window_quantiles([0.5], window=w)
        got = sum(r["count"] for r in out["rows"] if r["event_type"] == g)
        assert got == n_cov

    # parquet output leg
    dest = str(tmp_path / "bins")
    rc = rollup_sketches.main([
        "histogram", "--state", state, "--output", dest])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["bins"] == sum(len(v) for v in by_group.values())
    assert spark.read.parquet(dest).count() == meta["bins"]

    rc = rollup_sketches.main([
        "histogram", "--state", state, "--window", "7d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "wdds blobs" in err["error"]


def test_merge_states_is_one_shot_byte_identical(spark, seq_dir, tmp_path):
    """Multi-cluster fan-in: two warehouses built over disjoint halves
    of the corpus, merged with `rollup_merge_states`, are byte-identical
    to one warehouse built over everything — plus the full refusal
    contract (config mismatch, lineage overlap, non-fresh dest, source
    dedup) and queryability/advanceability of the merged state."""
    import os
    files = parquet_file_list(seq_dir)
    half_a, half_b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(half_a), os.makedirs(half_b)
    for f in files[:4]:
        shutil.copy(f, half_a)
    for f in files[4:]:
        shutil.copy(f, half_b)

    sa, sb = str(tmp_path / "state_a"), str(tmp_path / "state_b")
    R.rollup_update(spark, half_a, sa, _specs(), group_cols=("source",),
                    salt_buckets=4)
    R.rollup_update(spark, half_b, sb, _specs(), group_cols=("source",),
                    salt_buckets=4)

    dest = str(tmp_path / "merged")
    stats = R.rollup_merge_states(spark, [sa, sb], dest)
    assert stats["version"] == 1 and stats["sources"] == 2
    assert stats["total_files"] == len(files)

    # byte identity vs the union state built in one shot
    full = str(tmp_path / "full")
    os.makedirs(full)
    for f in files:
        shutil.copy(f, full)
    one = str(tmp_path / "state_one")
    R.rollup_update(spark, full, one, _specs(), group_cols=("source",),
                    salt_buckets=4)
    merged_blobs, one_blobs = _blob_map(spark, dest), _blob_map(spark, one)
    assert set(merged_blobs) == set(one_blobs)
    for key, blob in merged_blobs.items():
        assert blob == one_blobs[key], key

    # the manifest carries summed metrics + provenance, and the merged
    # state answers queries / accepts further updates like any other
    vers = dict(R.rollup_versions(spark, dest))
    assert [m["state_dir"] for m in vers[1]["merged_from"]] == [sa, sb]
    assert vers[1]["rows_seen_total"] == \
        dict(R.rollup_versions(spark, one))[1]["rows_seen_total"]
    got = {r["source"]: r["estimate"] for r in
           R.rollup_quantiles(spark, dest, "dds", [0.5]).collect()}
    want = {r["source"]: r["estimate"] for r in
            R.rollup_quantiles(spark, one, "dds", [0.5]).collect()}
    assert got == want
    assert R.rollup_update(spark, half_a, dest, _specs(),
                           group_cols=("source",), salt_buckets=4)["noop"]

    # refusals
    with pytest.raises(UsageError, match="at least 2"):
        R.rollup_merge_states(spark, [sa], dest + "2")
    with pytest.raises(UsageError, match="duplicate source"):
        R.rollup_merge_states(spark, [sa, sa], dest + "2")
    with pytest.raises(UsageError, match="already has committed"):
        R.rollup_merge_states(spark, [sa, sb], dest)
    # lineage overlap is path-identity (same semantics as update's
    # file dedup): a state built over the SAME dir as `sa` collides
    dup = str(tmp_path / "state_dup")
    R.rollup_update(spark, half_a, dup, _specs(), group_cols=("source",),
                    salt_buckets=4)
    with pytest.raises(UsageError, match="double-count"):
        R.rollup_merge_states(spark, [sa, dup], dest + "2")
    with pytest.raises(UsageError, match="no committed rollup state"):
        R.rollup_merge_states(spark, [sa, str(tmp_path / "void")],
                              dest + "2")
    other = str(tmp_path / "state_other")
    R.rollup_update(spark, half_b, other,
                    [_specs()[0]], group_cols=("source",), salt_buckets=4)
    with pytest.raises(UsageError, match="config mismatch"):
        R.rollup_merge_states(spark, [sa, other], dest + "2")


def test_merge_states_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    """CLI `merge` fans two states in and the merged state serves the
    query subcommands; bad input is the one-line JSON error."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    files = parquet_file_list(seq_dir)
    half_a, half_b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(half_a), os.makedirs(half_b)
    for f in files[:4]:
        shutil.copy(f, half_a)
    for f in files[4:]:
        shutil.copy(f, half_b)
    sa, sb = str(tmp_path / "sa"), str(tmp_path / "sb")
    for src, st in ((half_a, sa), (half_b, sb)):
        assert rollup_sketches.main([
            "update", "--input", src, "--state", st,
            "--group-cols", "source", "--value-col", "n_tok",
            "--tokens-col", "tokens", "--salt-buckets", "4"]) == 0
    capsys.readouterr()

    dest = str(tmp_path / "merged")
    assert rollup_sketches.main([
        "merge", "--sources", f"{sa},{sb}", "--dest", dest]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sources"] == 2 and out["total_files"] == len(files)

    assert rollup_sketches.main([
        "query", "--state", dest, "--quantiles", "0.5,0.99"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    assert rows and all(r["estimate"] is not None for r in rows)

    assert rollup_sketches.main([
        "merge", "--sources", sa, "--dest", str(tmp_path / "d2")]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "at least 2" in err["error"]


def test_wss_warehouse_window_topk_matches_exact(spark, tmp_path, capsys):
    """wss family through the full warehouse path: heavy users per
    event_type from the stored blob, pinned against exact recomputation
    over each row's REPORTED covered range (user universe 15 < k=64 ⇒
    exact regime, err == 0); the generic `topk` subcommand ranks the
    same blob's full history; window-topk on a non-wss family is the
    clean JSON error."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    import pandas as pd

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "user_id",
        "--ts-col", "ts", "--sketches", "wss,shll", "--wss-bucket", "1d",
        "--ss-k", "64", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    rc = rollup_sketches.main([
        "window-topk", "--state", state, "--windows", "1d,7d", "--m", "5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"], "no rankings came back"

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["ts_us"] = ev["ts"].astype("int64")
    seen_groups = set()
    for r in out["rows"]:
        g = r["event_type"]
        seen_groups.add(g)
        sub = ev[(ev["event_type"] == g) & (ev["ts_us"] >= r["covered_from"])
                 & (ev["ts_us"] < r["covered_to"])]
        truth = sub.groupby("user_id").size()
        assert r["count_err"] == 0
        assert truth.get(r["item"], 0) == r["count_est"]
        # rank order is count desc, item asc
        srt = sorted(((int(c), int(u)) for u, c in truth.items()),
                     key=lambda x: (-x[0], x[1]))
        assert (srt[r["rank"] - 1][1], srt[r["rank"] - 1][0]) == \
            (r["item"], r["count_est"])
        assert r["n_covered"] == len(sub)
    assert seen_groups == set(ev["event_type"].unique())

    # generic topk answers full history from the same wss blob
    rc = rollup_sketches.main([
        "topk", "--state", state, "--sketch", "wss", "--m", "3"])
    assert rc == 0
    tk = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for r in tk["rows"]:
        g = r["event_type"]
        truth = ev[ev["event_type"] == g].groupby("user_id").size()
        assert truth.get(r["item"], 0) == r["count_est"]

    # wrong family is the documented one-line JSON error
    rc = rollup_sketches.main([
        "window-topk", "--state", state, "--sketch", "shll",
        "--windows", "1d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "window_top" in err["error"]


def test_wss_warehouse_token_heavy_hitters(spark, seq_dir, tmp_path, capsys):
    """wss over token ARRAYS (apair extractor): every element of a
    row's tokens array is stamped with the row's event time; windowed
    token rankings from the stored blob match an exact explode-and-
    count over the covered range."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    import pandas as pd

    src = str(tmp_path / "toks_ts")
    (spark.read.parquet(seq_dir)
     .withColumn("ts", (F.xxhash64("doc_id") % 1000000) + 1000000)
     .write.parquet(src))

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", src, "--state", state,
        "--group-cols", "source", "--tokens-col", "tokens",
        "--ts-col", "ts", "--sketches", "wss", "--wss-bucket", "100000",
        "--ts-unit", "us", "--ss-k", "2000", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    rc = rollup_sketches.main([
        "window-topk", "--state", state, "--windows", "500000",
        "--m", "10"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]

    df = pd.read_parquet(src)
    for r in out["rows"][:20]:
        sub = df[(df["source"] == r["source"]) & (df["ts"] >= r["covered_from"])
                 & (df["ts"] < r["covered_to"])]
        flat = np.concatenate(sub["tokens"].to_list()) if len(sub) else \
            np.empty(0, dtype=np.int64)
        truth = pd.Series(flat).value_counts()
        assert r["n_covered"] == flat.size
        tr = int(truth.get(r["item"], 0))
        assert tr <= r["count_est"] <= tr + r["count_err"]


def test_window_topk_drift_adjacent_churn(spark, tmp_path, capsys):
    """Adjacent-window heavy-hitter churn from one wss blob: the
    current/previous windows tile exactly (prev_covered_to ==
    cur_covered_from pins via coverage columns), every entered/left/
    moved row matches exact recomputation over its reported ranges
    (exact regime k=64 > 15 users), and a non-wss family is the clean
    JSON error."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    import pandas as pd

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "user_id",
        "--ts-col", "ts", "--sketches", "wss,eh", "--wss-bucket", "1d",
        "--ss-k", "64", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    rc = rollup_sketches.main([
        "window-topk-drift", "--state", state, "--windows", "5d",
        "--m", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"]

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["ts_us"] = ev["ts"].astype("int64")

    def exact_top(g, lo, hi, m):
        sub = ev[(ev["event_type"] == g) & (ev["ts_us"] >= lo)
                 & (ev["ts_us"] < hi)]
        truth = sub.groupby("user_id").size()
        srt = sorted(((int(c), int(u)) for u, c in truth.items()),
                     key=lambda x: (-x[0], x[1]))[:m]
        return {u: (rk, c) for rk, (c, u) in enumerate(srt, start=1)}

    W = 5 * 86_400_000_000
    statuses = set()
    for r in out["rows"]:
        g = r["event_type"]
        cur = exact_top(g, r["cur_covered_from"], r["cur_covered_to"], 4)
        # previous window tiles back from the current coverage edge:
        # recompute its own bucket-granular coverage the same way the
        # sketch does — anchored at cur_covered_from - 1
        prv = exact_top(g, r["prev_covered_from"], r["cur_covered_from"], 4)
        statuses.add(r["status"])
        if r["status"] == "entered":
            assert r["item"] in cur and r["item"] not in prv
            assert cur[r["item"]] == (r["rank_cur"], r["count_cur"])
        elif r["status"] == "left":
            assert r["item"] in prv and r["item"] not in cur
            assert prv[r["item"]] == (r["rank_prev"], r["count_prev"])
        else:
            assert cur[r["item"]][1] == r["count_cur"]
            assert prv[r["item"]][1] == r["count_prev"]
            assert r["delta"] == r["count_cur"] - r["count_prev"]
        # tiling pin: the previous range ends exactly where the
        # current one begins, and both are non-degenerate
        assert r["prev_covered_from"] < r["cur_covered_from"] \
            < r["cur_covered_to"]
    assert "moved" in statuses  # sanity: the fixture produces churn

    rc = rollup_sketches.main([
        "window-topk-drift", "--state", state, "--sketch", "eh",
        "--windows", "1d"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "window_top" in err["error"]


def test_fsck_audits_commit_protocol(spark, seq_dir, tmp_path, capsys):
    """`fsck` passes a healthy two-version state (deep included),
    counts aborted dirs without failing, and catches each tampered
    invariant: metric mismatch, cross-version config change, lineage
    shrink, and (deep) blob wire corruption."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches

    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    state = str(tmp_path / "state")
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    for f in files[4:]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)

    # healthy: ok, both versions, deep decode green, exit 0
    assert rollup_sketches.main(["fsck", "--state", state, "--deep"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] and rep["versions"] == [1, 2] and not rep["findings"]

    # an aborted (manifest-less) dir is reported, not fatal
    os.makedirs(os.path.join(state, "version=3", "blobs"))
    assert rollup_sketches.main(["fsck", "--state", state]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] and rep["aborted"] == [3]

    # tamper: inflate a rows_seen_total -> metric finding, exit 1
    mp = os.path.join(state, "version=2", "manifest.json")
    m = json.loads(open(mp).read())
    good = json.dumps(m, indent=1, sort_keys=True)
    m["rows_seen_total"]["dds"] += 1
    open(mp, "w").write(json.dumps(m, indent=1, sort_keys=True))
    assert rollup_sketches.main(["fsck", "--state", state]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any("rows_seen" in f for f in rep["findings"])
    # ... and a rows_seen DECREASE vs version=1 is its own finding
    m["rows_seen_total"]["dds"] = 1
    open(mp, "w").write(json.dumps(m, indent=1, sort_keys=True))
    rollup_sketches.main(["fsck", "--state", state])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any("decreased" in f for f in rep["findings"])

    # tamper: delete 'files' entirely -> missing-key finding, and the
    # lineage comparison degrades to a shrink finding, never a KeyError
    m = json.loads(good)
    del m["files"]
    open(mp, "w").write(json.dumps(m, indent=1, sort_keys=True))
    assert rollup_sketches.main(["fsck", "--state", state]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any("missing 'files'" in f for f in rep["findings"])
    assert any("lineage shrank" in f for f in rep["findings"])

    # tamper: config drift + lineage shrink vs version=1
    m = json.loads(good)
    m["group_cols"] = ["other"]
    m["files"] = m["files"][:2]
    open(mp, "w").write(json.dumps(m, indent=1, sort_keys=True))
    rollup_sketches.main(["fsck", "--state", state])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any("group_cols changed" in f for f in rep["findings"])
    assert any("lineage shrank" in f for f in rep["findings"])
    open(mp, "w").write(good)

    # deep: flip bytes inside a stored blob -> decode finding
    bp = os.path.join(state, "version=2", "blobs")
    pdf = spark.read.parquet(bp).toPandas()
    pdf.loc[0, "sketch"] = b"XXXX" + bytes(pdf.loc[0, "sketch"][4:])
    import shutil as sh
    sh.rmtree(bp)
    spark.createDataFrame(pdf).write.parquet(bp)
    # shallow fsck is blind to blob bytes (counts still conserve)...
    assert rollup_sketches.main(["fsck", "--state", state]) == 0
    assert rollup_sketches.main(["fsck", "--state", state, "--deep"]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any("decode" in f for f in rep["findings"])

    # empty dir: ok False, clean report
    assert rollup_sketches.main(
        ["fsck", "--state", str(tmp_path / "void")]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not rep["ok"] and "no committed" in rep["findings"][0]


def test_window_topk_drift_silent_group_reports_left(spark, tmp_path,
                                                     capsys):
    """A group whose CURRENT window is empty (anchor past its last
    event) still reports its former top-m as 'left' — going silent is
    the loudest churn, not an absence of rows."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    import pandas as pd

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "user_id",
        "--ts-col", "ts", "--sketches", "wss", "--wss-bucket", "1d",
        "--ss-k", "64", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    t_max = int(ev["ts"].astype("int64").max())
    w = 2 * 86_400_000_000
    # anchor a full bucket past t_max's (1d) bucket so not even the
    # straddling bucket overlaps the current window
    rc = rollup_sketches.main([
        "window-topk-drift", "--state", state, "--windows", str(w),
        "--m", "3", "--now", str(t_max + w + 86_400_000_000)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"], "silent groups produced no churn rows"
    assert {r["status"] for r in out["rows"]} == {"left"}
    for r in out["rows"]:
        assert r["rank_cur"] is None and r["count_cur"] is None
        # the reported previous coverage really contains the item's
        # counted occurrences
        sub = ev[(ev["event_type"] == r["event_type"])
                 & (ev["ts"].astype("int64") >= r["prev_covered_from"])]
        truth = sub.groupby("user_id").size()
        assert truth.get(r["item"], 0) == r["count_prev"]


def test_merge_states_sliding_families_byte_identical(spark, tmp_path):
    """Multi-cluster fan-in of WINDOWED state: two warehouses built
    over disjoint day-ranges of events, merged, are byte-identical to
    one warehouse over everything for the byte-canonical families
    (shll skylines, wdds order-invariant buckets, wss in the exact
    regime); eh re-association is bound-preserving, not byte-canonical
    (its own sketch tests pin exactly that), so its receipt — estimate
    within err_bound of the exact windowed row count — is asserted
    instead. The merged blobs answer window queries identically to the
    one-shot state."""
    import os
    from p2pddsketch_spark.operators.harness import (SketchSpec,
                                                     pair_extractor,
                                                     scalar_extractor,
                                                     vpair_extractor)
    from p2pddsketch_spark.sketches.eh import ExpHistogram
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
    from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving

    day_us = 86_400_000_000

    def specs():
        return [
            SketchSpec("shll", lambda: SlidingHyperLogLog(p=12),
                       pair_extractor("user_id", "ts")),
            SketchSpec("eh", lambda: ExpHistogram(k=16),
                       scalar_extractor("ts")),
            SketchSpec("wdds", lambda: WindowedDDSketch(
                alpha=0.02, bucket_width=day_us, max_buckets=256),
                       vpair_extractor("value", "ts")),
            SketchSpec("wss", lambda: WindowedSpaceSaving(
                k=64, bucket_width=day_us, max_buckets=256),
                       pair_extractor("user_id", "ts")),
        ]

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    a_dir, b_dir, full_dir = (str(tmp_path / d) for d in ("a", "b", "f"))
    ev.where(F.dayofmonth("ts") <= 15).write.parquet(a_dir)
    ev.where(F.dayofmonth("ts") > 15).write.parquet(b_dir)
    ev.write.parquet(full_dir)

    sa, sb, one = (str(tmp_path / d) for d in ("sa", "sb", "one"))
    R.rollup_update(spark, a_dir, sa, specs(), group_cols=("event_type",),
                    salt_buckets=4)
    R.rollup_update(spark, b_dir, sb, specs(), group_cols=("event_type",),
                    salt_buckets=4)
    R.rollup_update(spark, full_dir, one, specs(),
                    group_cols=("event_type",), salt_buckets=4)

    dest = str(tmp_path / "merged")
    stats = R.rollup_merge_states(spark, [sa, sb], dest)
    assert stats["sources"] == 2

    merged = {(r["event_type"], r["sketch_name"]): bytes(r["sketch"])
              for r in R.rollup_state(spark, dest).collect()}
    direct = {(r["event_type"], r["sketch_name"]): bytes(r["sketch"])
              for r in R.rollup_state(spark, one).collect()}
    assert set(merged) == set(direct)
    for key, blob in merged.items():
        if key[1] != "eh":
            assert blob == direct[key], key

    # eh: hard receipt against the exact windowed row count instead
    import pandas as pd
    epd = pd.read_parquet(full_dir)
    epd["ts_us"] = epd["ts"].astype("int64")
    wins = [7 * day_us]
    for r in R.rollup_window_rows(spark, dest, wins).collect():
        sub = epd[epd["event_type"] == r["event_type"]]
        truth = int((sub["ts_us"] > sub["ts_us"].max() - wins[0]).sum())
        assert abs(r["estimate"] - truth) <= r["err_bound"]
    got = [r.asDict() for r in
           R.rollup_window_topk(spark, dest, wins, m=3).collect()]
    want = [r.asDict() for r in
            R.rollup_window_topk(spark, one, wins, m=3).collect()]
    assert got == want


def test_histogram_csv_reference_layout(spark, tmp_path, capsys):
    """`histogram --format csv` emits the reference's DDS_PrintCSV
    layout byte-for-byte (ddsketch.cc:927-947): header
    'key, count, max, min, length, ', fixed precision 8, trailing
    ', ' per line, one file per group; values equal the JSON dump's."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches

    state = str(tmp_path / "state")
    rc = rollup_sketches.main([
        "update", "--input", f"{SF_DIR}/events.parquet", "--state", state,
        "--group-cols", "event_type", "--value-col", "value",
        "--sketches", "dds", "--salt-buckets", "4"])
    assert rc == 0
    capsys.readouterr()

    rc = rollup_sketches.main(["histogram", "--state", state])
    assert rc == 0
    js = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    dest = str(tmp_path / "csv")
    rc = rollup_sketches.main([
        "histogram", "--state", state, "--format", "csv",
        "--output", dest])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    groups = sorted({r["event_type"] for r in js["rows"]})
    assert meta["files"] == groups
    for g in groups:
        lines = open(os.path.join(dest, f"{g}.csv")).read().splitlines()
        assert lines[0] == "key, count, max, min, length, "
        want = [r for r in js["rows"] if r["event_type"] == g]
        assert len(lines) == 1 + len(want)
        for line, r in zip(lines[1:], want):
            assert line == (f"{r['key']}, {r['count']}, "
                            f"{r['upper']:.8f}, {r['lower']:.8f}, "
                            f"{r['upper'] - r['lower']:.8f}, ")

    # csv without --output is the clean JSON error
    rc = rollup_sketches.main([
        "histogram", "--state", state, "--format", "csv"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--output" in err["error"]


def test_restore_then_reingest_reproduces_state(spark, seq_dir, tmp_path):
    """`rollup_restore` commits the rolled-back state FORWARD: the new
    tip's blobs are byte-identical to the restored version's, the
    undone files leave the manifest lineage, and a subsequent update
    over the full input re-folds exactly those files — reproducing the
    pre-restore tip byte-for-byte (merge associativity). fsck (deep)
    stays green across the whole restore+reingest history."""
    import os
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    state = str(tmp_path / "state")
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    v1_blobs = _blob_map(spark, state)
    for f in files[4:]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    v2_blobs = _blob_map(spark, state)
    assert v2_blobs != v1_blobs  # wave 2 actually changed the state

    st = R.rollup_restore(spark, state, to_version=1)
    assert st == {"version": 3, "restored_from": 1,
                  "total_files": 4, "noop": False}
    assert _blob_map(spark, state) == v1_blobs

    vers = dict(R.rollup_versions(spark, state))
    assert vers[3]["restored_from"] == 1
    assert vers[3]["files"] == vers[1]["files"]
    assert vers[3]["rows_seen_total"] == vers[1]["rows_seen_total"]

    # re-ingest: the 4 undone files (and only those) fold back in,
    # landing byte-identically on the pre-restore tip
    s4 = R.rollup_update(spark, half, state, _specs(),
                         group_cols=("source",), salt_buckets=4)
    assert s4["version"] == 4 and s4["new_files"] == 4
    assert _blob_map(spark, state) == v2_blobs

    rep = R.rollup_fsck(spark, state, deep=True)
    assert rep["ok"] and rep["versions"] == [1, 2, 3, 4], rep["findings"]


def test_restore_noop_and_errors(spark, seq_dir, tmp_path):
    import os
    state = str(tmp_path / "state")
    with pytest.raises(UsageError, match="no committed rollup state"):
        R.rollup_restore(spark, state, to_version=1)
    R.rollup_update(spark, seq_dir, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    # restore to the tip: nothing to undo
    assert R.rollup_restore(spark, state, to_version=1)["noop"]
    assert [v for v, _ in R.rollup_versions(spark, state)] == [1]
    with pytest.raises(UsageError, match="not committed"):
        R.rollup_restore(spark, state, to_version=99)
    # an aborted (manifest-less) version dir is not restorable
    os.makedirs(os.path.join(state, "version=5", "blobs"))
    with pytest.raises(UsageError, match="not committed"):
        R.rollup_restore(spark, state, to_version=5)


def test_restore_cli_roundtrip(spark, seq_dir, tmp_path, capsys):
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    state = str(tmp_path / "state")
    base = ["--group-cols", "source", "--value-col", "n_tok",
            "--tokens-col", "tokens", "--hll-p", "12",
            "--salt-buckets", "4"]
    assert rollup_sketches.main(
        ["update", "--input", half, "--state", state] + base) == 0
    capsys.readouterr()
    assert rollup_sketches.main(
        ["query", "--state", state, "--quantiles", "0.5,0.99"]) == 0
    q1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for f in files[4:]:
        shutil.copy(f, half)
    assert rollup_sketches.main(
        ["update", "--input", half, "--state", state] + base) == 0
    capsys.readouterr()

    rc = rollup_sketches.main(
        ["restore", "--state", state, "--to-version", "1"])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["version"] == 3 and st["restored_from"] == 1

    # the restored tip answers exactly like version 1 did
    assert rollup_sketches.main(
        ["query", "--state", state, "--quantiles", "0.5,0.99"]) == 0
    q3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q3["rows"] == q1["rows"]

    # bad target -> documented JSON error contract
    rc = rollup_sketches.main(
        ["restore", "--state", state, "--to-version", "42"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "not committed" in err["error"]


def test_fsck_flags_tampered_restore(spark, seq_dir, tmp_path):
    """A restore manifest that claims lineage its predecessor never had,
    or that no longer matches its source version, is caught by fsck."""
    import os
    files = parquet_file_list(seq_dir)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[:4]:
        shutil.copy(f, half)
    state = str(tmp_path / "state")
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    for f in files[4:]:
        shutil.copy(f, half)
    R.rollup_update(spark, half, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    R.rollup_restore(spark, state, to_version=1)
    assert R.rollup_fsck(spark, state)["ok"]

    mp = os.path.join(state, "version=3", "manifest.json")
    m = json.loads(open(mp).read())
    tampered = dict(m, files=m["files"] + ["/nowhere/invented.parquet"])
    open(mp, "w").write(json.dumps(tampered))
    rep = R.rollup_fsck(spark, state)
    assert not rep["ok"]
    assert any("differs from restore source" in f for f in rep["findings"])
    assert any("introduces files" in f for f in rep["findings"])

    # restored_from pointing at itself / later is nonsense
    open(mp, "w").write(json.dumps(dict(m, restored_from=3)))
    rep = R.rollup_fsck(spark, state)
    assert not rep["ok"]
    assert any("not an earlier version" in f for f in rep["findings"])

    # non-int markers must be FINDINGS, not auditor crashes: a list is
    # unhashable (TypeError out of dict.get before the guard), JSON
    # `true` is an int subclass that hashes like 1 and would silently
    # audit against version=1
    for bogus in ([1], True, "1"):
        open(mp, "w").write(json.dumps(dict(m, restored_from=bogus)))
        rep = R.rollup_fsck(spark, state)
        assert not rep["ok"]
        assert any("not an earlier version" in f for f in rep["findings"]), \
            (bogus, rep["findings"])

    # pruned source: identity check is skipped (source manifest gone),
    # containment still holds -> healthy
    open(mp, "w").write(json.dumps(m))
    R.rollup_prune(spark, state, keep=1)
    rep = R.rollup_fsck(spark, state)
    assert rep["ok"] and rep["versions"] == [3], rep["findings"]


def test_restore_refuses_corrupt_source_manifest(spark, seq_dir, tmp_path,
                                                 capsys):
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq_dir, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    R.rollup_update(spark, seq_dir + "/", state, _specs(),
                    group_cols=("source",), salt_buckets=4)  # noop, v stays 1
    # force a second version so v1 is restorable, then corrupt v1
    files = parquet_file_list(seq_dir)
    more = str(tmp_path / "more")
    os.makedirs(more)
    for f in files:
        shutil.copy(f, os.path.join(more, "x_" + os.path.basename(f)))
    R.rollup_update(spark, more, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    mp = os.path.join(state, "version=1", "manifest.json")
    m = json.loads(open(mp).read())
    del m["files"]
    open(mp, "w").write(json.dumps(m))
    with pytest.raises(UsageError, match="missing.*files"):
        R.rollup_restore(spark, state, to_version=1)
    # and through the CLI it is the documented JSON error, not a traceback
    rc = rollup_sketches.main(
        ["restore", "--state", state, "--to-version", "1"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "corrupt source" in err["error"]

    # torn copy (source blobs disagree with their manifest): the
    # pre-commit verification refuses with the typed GenericError and
    # the CLI still keeps the JSON error contract — no new tip appears
    open(mp, "w").write(json.dumps(dict(m, files=[])))  # manifest valid again
    mp1 = json.loads(open(mp).read())
    mp1["n_blob_rows"] = 999  # blobs can never match this
    open(mp, "w").write(json.dumps(mp1))
    from p2pddsketch_spark.errors import GenericError
    with pytest.raises(GenericError, match="not committing"):
        R.rollup_restore(spark, state, to_version=1)
    tip_before = R.rollup_versions(spark, state)[-1][0]
    rc = rollup_sketches.main(
        ["restore", "--state", state, "--to-version", "1"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "not committing" in err["error"]
    assert R.rollup_versions(spark, state)[-1][0] == tip_before


def test_overlap_from_stored_theta_blobs(spark, seq_dir, tmp_path, capsys):
    """rollup_overlap: pairwise |A∩B| / |A∪B| / Jaccard across groups
    straight from committed theta blobs. The fixture token universe
    (< 1000 ids) sits far under k=4096, so theta keeps every hash and
    every estimate is the EXACT set arithmetic — pinned against a
    pandas set-ops replay per source pair. Wrong-family blobs refuse
    cleanly, both as the typed operator error and the CLI JSON line."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    state = str(tmp_path / "state")
    specs = [
        SketchSpec("theta", lambda: ThetaSketch(k=4096),
                   array_extractor("tokens")),
        SketchSpec("hll", lambda: HyperLogLog(p=12),
                   array_extractor("tokens")),
    ]
    R.rollup_update(spark, seq_dir, state, specs,
                    group_cols=("source",), salt_buckets=4)
    got = {(r["source_a"], r["source_b"]):
           (r["inter_est"], r["union_est"], r["jaccard"])
           for r in R.rollup_overlap(spark, state, "theta").collect()}
    # exact replay: per-source distinct token sets
    pdf = (spark.read.parquet(seq_dir)
           .select("source", F.explode("tokens").alias("tok")).toPandas())
    sets = {s: set(g["tok"]) for s, g in pdf.groupby("source")}
    names = sorted(sets)
    assert len(got) == len(names) * (len(names) - 1) // 2
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            gi, gu, gj = got[(a, b)]
            assert gi == float(inter) and gu == float(union), (a, b)
            assert gj == round(inter / union, 6)
    # wrong family: clean typed refusal, not AttributeError
    with pytest.raises(UsageError, match="needs theta blobs"):
        R.rollup_overlap(spark, state, "hll")
    # CLI roundtrip + JSON error contract
    rc = rollup_sketches.main(["overlap", "--state", state])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["rows"]) == len(got)
    one = out["rows"][0]
    key = (one["source_a"], one["source_b"])
    assert (one["inter_est"], one["union_est"], one["jaccard"]) == got[key]
    rc = rollup_sketches.main(
        ["overlap", "--state", state, "--sketch", "hll"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "needs theta blobs" in err["error"]


def test_dedup_filter_against_stored_bloom_state(spark, seq_dir, tmp_path,
                                                 capsys):
    """rollup_dedup_filter: incremental dedup of a new batch against the
    warehouse's Bloom state. No-FN is the hard guarantee — NO doc whose
    key was ingested survives keep='new' — while FP loss on genuinely
    new docs stays at the filter's rate; keep='seen' returns a superset
    of the truly seen keys. Driven both as the operator and end-to-end
    through the CLI (--hash-of derivation, parquet out, JSON counts)."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    from p2pddsketch_spark.plans.queries import scalar_int_extractor
    from p2pddsketch_spark.sketches.bloom import BloomFilter
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    state = str(tmp_path / "state")
    keyed = (spark.read.parquet(seq_dir)
             .withColumn("key", F.xxhash64("doc_id")))
    full_dir = str(tmp_path / "keyed")
    keyed.repartition(8).write.parquet(full_dir)
    files = sorted(os.listdir(full_dir))
    half_dir = str(tmp_path / "half")
    os.makedirs(half_dir)
    for f in files:
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(full_dir, f), half_dir)
        if len(os.listdir(half_dir)) == 4:
            break
    specs = [
        SketchSpec("bloom", lambda: BloomFilter(m_bits=1 << 21, k=5),
                   scalar_int_extractor("key")),
        SketchSpec("theta", lambda: ThetaSketch(k=4096),
                   scalar_int_extractor("key")),
    ]
    R.rollup_update(spark, half_dir, state, specs,
                    group_cols=("source",), salt_buckets=4)
    seen = {r["key"] for r in
            spark.read.parquet(half_dir).select("key").collect()}
    alln = {r["key"] for r in
            spark.read.parquet(full_dir).select("key").collect()}
    new = alln - seen
    full = spark.read.parquet(full_dir)
    kept = {r["key"] for r in
            R.rollup_dedup_filter(spark, full, state, "key")
            .select("key").collect()}
    assert not (kept & seen)            # no false negatives, ever
    assert kept <= new
    assert len(kept) >= 0.9 * len(new)  # FP loss bounded
    got_seen = {r["key"] for r in
                R.rollup_dedup_filter(spark, full, state, "key",
                                      keep="seen").select("key").collect()}
    assert got_seen >= seen             # superset of the truly seen
    assert got_seen == alln - kept
    with pytest.raises(UsageError, match="needs bloom blobs"):
        R.rollup_dedup_filter(spark, full, state, "key",
                              sketch_name="theta")
    with pytest.raises(UsageError, match="keep must be"):
        R.rollup_dedup_filter(spark, full, state, "key", keep="nope")
    # CLI: derive the key from doc_id, write survivors, report counts
    outdir = str(tmp_path / "survivors")
    rc = rollup_sketches.main([
        "filter-new", "--input", full_dir, "--state", state,
        "--key-col", "key", "--hash-of", "doc_id", "--output", outdir])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows_kept"] == len(kept)
    assert st["rows_in"] == len(alln)
    assert ({r["key"] for r in
             spark.read.parquet(outdir).select("key").collect()} == kept)


def test_stream_dedup_ingest_end_to_end(spark, tmp_path, capsys):
    """rollup_stream_dedup: the training-data firehose — overlapping
    drops stream in, a deduped corpus + Bloom state come out. Pinned:
    the output corpus carries EXACTLY the distinct input keys (the FP
    rate at this fill is ~1e-13, so exact equality is the honest
    assertion), one state version per micro-batch with rows_in/rows_kept
    metrics, a rerun on the same checkpoint is a fenced noop, NEW drops
    append only never-seen keys, and a FRESH checkpoint against the
    populated state refuses loudly instead of double-counting."""
    import os
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import rollup_sketches
    drop = str(tmp_path / "drop")
    state = str(tmp_path / "state")
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    os.makedirs(drop)
    # 6 files, heavy cross-file key overlap: file i carries keys
    # [i*100, i*100 + 180) — ~45% of each file duplicates its neighbor
    for i in range(6):
        rows = [(int(k), f"doc-{k}") for k in range(i * 100, i * 100 + 180)]
        (spark.createDataFrame(rows, "key long, text string")
         .coalesce(1).write.parquet(str(tmp_path / f"stage{i}")))
        src = [f for f in os.listdir(str(tmp_path / f"stage{i}"))
               if f.endswith(".parquet")][0]
        shutil.copy(str(tmp_path / f"stage{i}" / src), f"{drop}/f{i}.parquet")
    stats = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                                  checkpoint_dir=ck, salt_buckets=4,
                                  max_files_per_trigger=2)
    assert stats["batches"] == 3 and not stats["noop"]
    assert stats["rows_in"] == 6 * 180
    expect = set(range(0, 680))          # distinct keys in the 6 drops
    got = {r["key"] for r in spark.read.parquet(out).select("key").collect()}
    assert got == expect
    assert stats["rows_kept"] == len(expect)
    # no duplicate keys anywhere in the corpus
    n = spark.read.parquet(out).count()
    assert n == len(expect)
    # one committed state version per batch, with ingest metrics
    vers = R.rollup_versions(spark, state)
    assert [v for v, _ in vers] == [1, 2, 3]
    assert sum(m["rows_kept"] for _, m in vers) == len(expect)
    # rerun, same checkpoint: everything fenced, nothing re-ingested
    again = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                                  checkpoint_dir=ck, salt_buckets=4)
    assert again["noop"] and again["batches"] == 0
    assert spark.read.parquet(out).count() == len(expect)
    # new drop, half old keys / half new: only the new half survives
    rows = [(int(k), f"doc-{k}") for k in range(600, 800)]
    (spark.createDataFrame(rows, "key long, text string")
     .coalesce(1).write.parquet(str(tmp_path / "stage7")))
    src = [f for f in os.listdir(str(tmp_path / "stage7"))
           if f.endswith(".parquet")][0]
    shutil.copy(str(tmp_path / "stage7" / src), f"{drop}/f7.parquet")
    more = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                                 checkpoint_dir=ck, salt_buckets=4)
    assert more["batches"] == 1 and more["rows_kept"] == 120
    got2 = {r["key"] for r in spark.read.parquet(out).select("key").collect()}
    assert got2 == set(range(0, 800))
    # probing the warehouse now finds nothing new in the full history
    full = spark.read.parquet(drop)
    assert R.rollup_dedup_filter(spark, full, state, "key").count() == 0
    # fresh checkpoint + populated state: an all-old batch is a pure
    # replay (fenced), but once a NEW file lands the batch MIXES
    # ingested files with unseen ones -> loud refusal, because skipping
    # would lose the new file and merging would double-count the old
    rows = [(int(k), f"doc-{k}") for k in range(900, 910)]
    (spark.createDataFrame(rows, "key long, text string")
     .coalesce(1).write.parquet(str(tmp_path / "stage8")))
    src = [f for f in os.listdir(str(tmp_path / "stage8"))
           if f.endswith(".parquet")][0]
    shutil.copy(str(tmp_path / "stage8" / src), f"{drop}/f8.parquet")
    with pytest.raises(Exception, match="mixes files already"):
        # surfaces wrapped in Spark's StreamingQueryException, like the
        # stream-update sibling refusal
        R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                              checkpoint_dir=str(tmp_path / "ck2"),
                              salt_buckets=4)
    # CLI drive on a fresh pipeline (hash-of derivation path)
    state2, out2, ck3 = (str(tmp_path / p) for p in ("s2", "o2", "ck3"))
    rc = rollup_sketches.main([
        "stream-dedup", "--input", drop, "--state", state2,
        "--output", out2, "--checkpoint", ck3,
        "--key-col", "k2", "--hash-of", "text"])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows_kept"] == 810    # 800 keys + the 10 in f8.parquet
    assert spark.read.parquet(out2).count() == 810


def test_stream_dedup_refuses_saturated_state(spark, tmp_path):
    """A saturating dedup filter is silent data loss (the FP rate
    climbs and genuinely-new rows get dropped as 'seen'), so a batch
    must refuse BEFORE ingesting once the state's bit fill exceeds
    max_fill — with the re-shard guidance — and the fill ratio must
    ride the stats."""
    import os
    drop = str(tmp_path / "drop")
    os.makedirs(drop)

    def add_file(name, lo, hi):
        stage = str(tmp_path / f"stage_{name}")
        (spark.createDataFrame([(int(x),) for x in range(lo, hi)], "key long")
         .coalesce(1).write.parquet(stage))
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, src), f"{drop}/{name}.parquet")

    add_file("f0", 0, 200)
    state, out, ck = (str(tmp_path / p) for p in ("state", "out", "ck"))
    # m_bits=256, k=5, 200 keys -> fill ~ 98%: first run ingests (no
    # prior state to check), second refuses before touching the drop
    st = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                               checkpoint_dir=ck, m_bits=256, k=5,
                               salt_buckets=2)
    assert st["batches"] == 1 and st["fill_pct"] > 50
    add_file("f1", 200, 400)
    with pytest.raises(Exception, match="re-shard"):
        R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                              checkpoint_dir=ck, m_bits=256, k=5,
                              salt_buckets=2)
    # a generous max_fill lets the same batch through (caller's call)
    st2 = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                                checkpoint_dir=ck, m_bits=256, k=5,
                                salt_buckets=2, max_fill=1.0)
    assert st2["batches"] == 1


def test_overlap_multi_column_groups(spark, tmp_path):
    """rollup_overlap with a composite group key: every group column is
    emitted as a `<col>_a` / `<col>_b` pair (types preserved) and the
    under-k estimates stay exact set arithmetic."""
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    rows = []
    for src in ("a", "b"):
        for shard in (0, 1):
            base = (ord(src) - ord("a")) * 50 + shard * 25
            rows += [(src, shard, int(k)) for k in range(base, base + 40)]
    df = spark.createDataFrame(rows, "src string, shard int, key long")
    seq = str(tmp_path / "seq")
    df.repartition(2).write.parquet(seq)
    state = str(tmp_path / "state")
    R.rollup_update(spark, seq, state,
                    [SketchSpec("theta", lambda: ThetaSketch(k=1024),
                                scalar_int_extractor("key"))],
                    group_cols=("src", "shard"), salt_buckets=2)
    out = R.rollup_overlap(spark, state, "theta").toPandas()
    assert list(out.columns) == ["src_a", "shard_a", "src_b", "shard_b",
                                 "inter_est", "union_est", "jaccard"]
    assert len(out) == 6                       # C(4,2) group pairs
    pdf = df.toPandas()
    sets = {(s, sh): set(g["key"])
            for (s, sh), g in pdf.groupby(["src", "shard"])}
    for _, r in out.iterrows():
        a, b = (r["src_a"], r["shard_a"]), (r["src_b"], r["shard_b"])
        assert r["inter_est"] == float(len(sets[a] & sets[b]))
        assert r["union_est"] == float(len(sets[a] | sets[b]))


def test_stream_dedup_output_invariant_under_batching(spark, tmp_path):
    """The published key set must not depend on micro-batch slicing:
    the same 6-file overlapping drop drained at 1, 3, and 6 files per
    trigger publishes the identical key set (the batching only moves
    WHICH batch first claims a key)."""
    import os
    drops = str(tmp_path / "drop")
    os.makedirs(drops)
    for i in range(6):
        stage = str(tmp_path / f"s{i}")
        (spark.createDataFrame(
            [(int(k),) for k in range(i * 40, i * 40 + 70)], "key long")
         .coalesce(1).write.parquet(stage))
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, src), f"{drops}/f{i}.parquet")
    results = {}
    for mft in (1, 3, 6):
        state, out, ck = (str(tmp_path / f"{p}{mft}")
                          for p in ("st", "out", "ck"))
        stats = R.rollup_stream_dedup(spark, drops, state, out,
                                      key_col="key", checkpoint_dir=ck,
                                      salt_buckets=2,
                                      max_files_per_trigger=mft)
        keys = {r["key"] for r in
                spark.read.parquet(out).select("key").collect()}
        results[mft] = (stats["rows_kept"], keys)
        assert stats["batches"] == (6 + mft - 1) // mft
    expect = set(range(0, 270))
    for mft, (kept, keys) in results.items():
        assert keys == expect, mft
        assert kept == len(expect), mft


# ------------------------------------------------- blob-query read primitive

@pytest.fixture(scope="module")
def dds_hll_state(spark, seq_dir, tmp_path_factory):
    """One committed dds + hll state, shared by the wrong-family cases."""
    state = str(tmp_path_factory.mktemp("wrong_family") / "state")
    R.rollup_update(spark, seq_dir, state, _specs(),
                    group_cols=("source",), salt_buckets=4)
    return state


@pytest.mark.parametrize("read, method", [
    (lambda s, st: R.rollup_quantiles(s, st, "hll", [0.5]), "quantile"),
    (lambda s, st: R.rollup_cardinality(s, st, "dds"), "cardinality"),
    (lambda s, st: R.rollup_topk(s, st, "dds"), "top"),
    (lambda s, st: R.rollup_window_topk(s, st, [10], "dds"), "window_top"),
    (lambda s, st: R.rollup_window_cardinality(s, st, [10], "dds"),
     "distinct_in_last"),
    (lambda s, st: R.rollup_window_rows(s, st, [10], "dds"), "count_last"),
    (lambda s, st: R.rollup_window_counts(s, st, [1], [10], "dds"),
     "estimate_last"),
    (lambda s, st: R.rollup_window_quantiles(s, st, [0.5], [10], "dds"),
     "window_quantiles"),
    (lambda s, st: R.rollup_window_topk_drift(s, st, [10], "dds"),
     "window_top"),
], ids=["quantiles", "cardinality", "topk", "window_topk",
        "window_cardinality", "window_rows", "window_counts",
        "window_quantiles", "window_topk_drift"])
def test_reader_on_wrong_family_names_missing_method(spark, dds_hll_state,
                                                     read, method):
    """Every method-dispatched blob reader, asked of a family without
    its query method, fails with the one typed message naming that
    method — not an AttributeError from deep inside the worker."""
    with pytest.raises(Exception, match=f"does not support '{method}'"):
        read(spark, dds_hll_state).collect()


def test_window_readers_all_null_group_is_sql_null(spark, tmp_path):
    """A group whose (value, ts) pairs are all NULL stores empty shll /
    ecm / eh sketches; the window readers must render their estimates
    (and error receipts) as SQL NULL — not NaN — and still answer the
    populated group."""
    from p2pddsketch_spark.operators.harness import pair_extractor
    from p2pddsketch_spark.sketches.ecm import EcmSketch
    from p2pddsketch_spark.sketches.eh import ExpHistogram
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 1, 30), ("b", None, None)],
        "source string, user_id long, ts long").repartition(1) \
        .write.parquet(src)
    specs = [
        SketchSpec("shll", lambda: SlidingHyperLogLog(p=12),
                   pair_extractor("user_id", "ts")),
        SketchSpec("ecm", lambda: EcmSketch(depth=4, width=64, k=8),
                   pair_extractor("user_id", "ts")),
        SketchSpec("eh", lambda: ExpHistogram(k=8),
                   scalar_int_extractor("ts")),
    ]
    state = str(tmp_path / "state")
    R.rollup_update(spark, src, state, specs, group_cols=("source",),
                    salt_buckets=2)
    reads = {
        "shll": (R.rollup_window_cardinality(spark, state, [100]),
                 ["estimate"]),
        "eh": (R.rollup_window_rows(spark, state, [100]),
               ["estimate", "err_bound"]),
        "ecm": (R.rollup_window_counts(spark, state, [1, 2], [100]),
                ["estimate", "err_bound"]),
    }
    for name, (df, cols) in reads.items():
        rows = df.collect()
        got = {r["source"] for r in rows}
        assert got == {"a", "b"}, name
        for r in rows:
            for c in cols:
                if r["source"] == "b":
                    assert r[c] is None, (name, c)
                else:
                    assert r[c] is not None and r[c] == r[c], (name, c)
    # adjacent-window drift: no row precedes either group's current
    # window, so previous == 0 and ratio is SQL NULL
    drift = R.rollup_window_drift(spark, state, [100], "eh").collect()
    assert {r["source"] for r in drift} == {"a", "b"}
    assert all(r["previous"] == 0 and r["ratio"] is None for r in drift)
    # wdds drift carries no hard receipts: both err columns are SQL NULL
    from p2pddsketch_spark.operators.harness import vpair_extractor
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
    wstate = str(tmp_path / "wstate")
    R.rollup_update(spark, src, wstate,
                    [SketchSpec("wdds",
                                lambda: WindowedDDSketch(
                                    alpha=0.01, bucket_width=10,
                                    max_buckets=64),
                                vpair_extractor("user_id", "ts"))],
                    group_cols=("source",), salt_buckets=2)
    wdrift = R.rollup_window_drift(spark, wstate, [10], qs=[0.5]).collect()
    assert {r["source"] for r in wdrift} == {"a", "b"}
    assert all(r["cur_err"] is None and r["prev_err"] is None
               for r in wdrift)


def test_window_read_job_ceiling(spark, tmp_path):
    """One trailing-window quantile read (state lookup, plan and
    collect) runs at most 4 Spark jobs: reading stored blobs must stay
    a fixed, small cost however the decode stage is written."""
    from p2pddsketch_spark.operators.harness import vpair_extractor
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(g, float(v), v * 10) for g in ("a", "b") for v in range(1, 50)],
        "source string, value double, ts long").repartition(2) \
        .write.parquet(src)
    state = str(tmp_path / "state")
    R.rollup_update(spark, src, state,
                    [SketchSpec("wdds",
                                lambda: WindowedDDSketch(
                                    alpha=0.01, bucket_width=100,
                                    max_buckets=64),
                                vpair_extractor("value", "ts"))],
                    group_cols=("source",), salt_buckets=2)
    sc = spark.sparkContext
    group = "rollup-window-read-ceiling"
    sc.setJobGroup(group, group)
    try:
        pdf = R.rollup_window_quantiles(spark, state, [0.5, 0.99],
                                        [200]).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(pdf) == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


# ------------------------------------------------------ one write path

def _key_file(spark, tmp_path, drop, name, lo, hi):
    """Drop one single-file parquet of int64 keys [lo, hi) into `drop`."""
    import os
    stage = str(tmp_path / f"stage_{name}")
    (spark.createDataFrame([(int(k),) for k in range(lo, hi)], "key long")
     .coalesce(1).write.parquet(stage))
    src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, src), f"{drop}/{name}.parquet")


def test_stream_dedup_empty_drop_dir_is_noop(spark, tmp_path):
    """The dedup ingest shares the stream pass's producer-race rule: an
    absent or empty drop dir is a no-op with the dedup stats shape, a
    glob that matches nothing raises, and a missing checkpoint dir is a
    usage error."""
    import os
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    for d in (str(tmp_path / "absent"), empty):
        got = R.rollup_stream_dedup(
            spark, d, str(tmp_path / "state"), str(tmp_path / "out"),
            key_col="key", checkpoint_dir=str(tmp_path / "ck"))
        assert got == {"version": 0, "batches": 0, "batches_fenced": 0,
                       "rows_in": 0, "rows_kept": 0, "noop": True,
                       "reason": "input dir absent or empty "
                                 "(producer race)"}
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        R.rollup_stream_dedup(
            spark, str(tmp_path / "nope-*"), str(tmp_path / "state"),
            str(tmp_path / "out"), key_col="key",
            checkpoint_dir=str(tmp_path / "ck2"))
    with pytest.raises(UsageError, match="checkpoint_dir is required"):
        R.rollup_stream_dedup(spark, empty, str(tmp_path / "state"),
                              str(tmp_path / "out"), key_col="key")
    with pytest.raises(UsageError, match="checkpoint_dir is required"):
        R.rollup_stream_update(spark, empty, str(tmp_path / "state"),
                               _specs())


def test_stream_dedup_checkpoint_reset_fences_or_refuses(spark, tmp_path):
    """A reset dedup checkpoint over unchanged input re-emits only
    ingested files (fenced, nothing written); once a new file lands, the
    mixed batch is refused and neither the state nor the corpus moves."""
    import os
    drop, state, out, ck = (str(tmp_path / p)
                            for p in ("drop", "state", "out", "ck"))
    os.makedirs(drop)
    for i in range(3):
        _key_file(spark, tmp_path, drop, f"f{i}", i * 50, i * 50 + 80)
    s1 = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                               checkpoint_dir=ck, salt_buckets=2)
    assert s1["batches"] == 1 and s1["rows_kept"] == 180
    shutil.rmtree(ck)
    s2 = R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                               checkpoint_dir=ck, salt_buckets=2)
    assert s2["batches"] == 0 and s2["batches_fenced"] >= 1
    assert s2["noop"] and s2["fill_pct"] == s1["fill_pct"]
    shutil.rmtree(ck)
    _key_file(spark, tmp_path, drop, "f3", 500, 520)
    versions = R.rollup_versions(spark, state)
    blobs = {r["sketch_name"]: bytes(r["sketch"])
             for r in R.rollup_state(spark, state).collect()}
    with pytest.raises(Exception, match="mixes files already"):
        R.rollup_stream_dedup(spark, drop, state, out, key_col="key",
                              checkpoint_dir=ck, salt_buckets=2)
    assert R.rollup_versions(spark, state) == versions
    assert {r["sketch_name"]: bytes(r["sketch"])
            for r in R.rollup_state(spark, state).collect()} == blobs
    assert spark.read.parquet(out).count() == 180


def test_update_over_committed_state_job_ceiling(spark, seq_dir, tmp_path):
    """An incremental update over one committed version (stage 1 over
    the new files, the merge with the stored blobs, the blob write and
    one aggregate over the published table for the manifest) runs at
    most 8 Spark jobs."""
    import os
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    files = parquet_file_list(seq_dir)
    for f in files[:4]:
        shutil.copy(f, drop)
    state = str(tmp_path / "state")
    R.rollup_update(spark, drop, state, _specs(), group_cols=("source",),
                    salt_buckets=4)
    for f in files[4:]:
        shutil.copy(f, drop)
    sc = spark.sparkContext
    group = "rollup-update-ceiling"
    sc.setJobGroup(group, group)
    try:
        got = R.rollup_update(spark, drop, state, _specs(),
                              group_cols=("source",), salt_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got["version"] == 2 and got["new_files"] == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
