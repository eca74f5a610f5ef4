"""Incremental grouped sketch rollup — the persisted "sketch warehouse".

At 10^12 rows nobody rebuilds sketches from scratch when a day of new
files lands; the production pattern is a PUBLISHED per-group sketch
table that each maintenance run advances incrementally:

  * `rollup_update` lists the input's parquet files, anti-joins the set
    already recorded in the committed state's manifest, runs stage 1
    (mapInArrow) over ONLY the new files, and merges the new partials
    with the stored per-group blobs through the same salted shuffle
    merge tree every build uses — sketch merge is associative and
    order-invariant, so the published state is byte-identical to a
    one-shot build over all files ever seen (pytest-pinned).
  * `rollup_quantiles` / `rollup_cardinality` (and every other
    `rollup_*` blob reader) answer queries FROM the stored blobs — no
    data re-scan, one mapInArrow stage over one row per (group,
    sketch) that decodes each blob once: the reason the warehouse
    exists. Grouping columns come from the committed manifest, not from
    the caller.
  * `rollup_prune` deletes old committed versions (keeping the newest
    `keep`), bounding state-dir growth; manifests intentionally carry
    the FULL file lineage (the Iceberg-manifest shape — what makes the
    anti-join and audits possible), so pruning blobs is the retention
    lever, not truncating lineage.

Versioned commit protocol (object-store safe, no rename atomicity
assumed): each update writes `version=<k>/blobs/` parquet first, then
`version=<k>/manifest.json` LAST via the Hadoop FileSystem API — a
version without a manifest is an aborted write, invisible to readers
AND safely overwritten by the retrying update (mode "overwrite", the
same recovery rule as `operators/checkpoint.py`'s commit groups). A
CORRUPTED manifest of a committed version, by contrast, raises loudly
(falling back to older state would silently double-merge on the next
update). File identity is the canonicalized path (realpath for local
files), so path-spelling differences can't re-ingest the same file;
spec compatibility is enforced by comparing each spec's serialized
ZERO-state signature (captures alpha / p / width / seed — any parameter
that changes the wire state), not just its name.

One commit path serves every writer. Sketch merge is fully mergeable,
so update, both stream maintainers, dedup ingest, state merge and
restore all have one shape: stored blobs plus new partials, one merge,
one publish. `_publish` is the only manifest-last commit (blob write,
one aggregate over the published table for the manifest totals, then
the manifest); `_stream_pass` is the only `availableNow` driver and
exactly-once lineage fence; `_version_dirs` is the only `version=<k>`
directory scan.

The reference simulator restarts from scratch on failure
(/root/reference/main.cpp:214-396 has no persistence at all); this is
the north_rule's "resumable ... with per-partition lineage + metrics"
carried to the job level, composing `operators/checkpoint.py`'s
file-chunk lineage idea with a published, queryable state table.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import posixpath
import time

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p2pddsketch_spark.errors import GenericError, UsageError
from p2pddsketch_spark.operators.harness import (SketchSpec, build_partials,
                                                 build_partials_from_files,
                                                 merge_blobs, merge_partials,
                                                 parquet_file_list,
                                                 scalar_int_extractor,
                                                 sketch_from_bytes)
from p2pddsketch_spark.operators.maintenance import (_hadoop_fs, _read_text,
                                                     _write_text)

__all__ = ["rollup_update", "rollup_stream_update", "rollup_merge_states",
           "rollup_state",
           "rollup_versions", "rollup_quantiles", "rollup_cardinality",
           "rollup_overlap", "rollup_dedup_filter", "rollup_stream_dedup",
           "rollup_topk", "rollup_histogram", "rollup_drift",
           "rollup_topk_drift",
           "rollup_window_cardinality", "rollup_window_counts",
           "rollup_window_topk", "rollup_window_topk_drift",
           "rollup_window_rows", "rollup_window_quantiles",
           "rollup_window_drift",
           "resolve_drift_versions", "rollup_prune", "rollup_restore",
           "rollup_fsck"]

_PARTIAL_COLS = ["sketch_name", "salt", "partition_id", "rows_seen",
                 "build_secs", "sketch"]


def _manifest_path(state_dir: str, version: int) -> str:
    return posixpath.join(state_dir, f"version={version}", "manifest.json")


def _blobs_path(state_dir: str, version: int) -> str:
    return posixpath.join(state_dir, f"version={version}", "blobs")


def _canon_path(p: str) -> str:
    """Canonical file identity for the manifest: realpath for local
    files (relative vs absolute vs symlinked spellings of the same file
    must not count as 'new' — that would silently double-merge every
    row); URIs are already canonical strings."""
    return p if "://" in p else os.path.realpath(p)


def _spec_signature(specs: list[SketchSpec]) -> dict[str, str]:
    """{name: sha256(zero-state bytes)[:16]} — two specs share a
    signature iff their factories produce byte-identical empty sketches,
    which captures every state-shaping parameter (alpha, bin_limit,
    hll p, cms width/depth, seed...). The guard the name-only check
    couldn't provide: a p=12-built warehouse updated with p=14 must be
    refused here, not explode in a stage-3 executor merge."""
    return {s.name: hashlib.sha256(s.factory().to_bytes()).hexdigest()[:16]
            for s in specs}


def _version_dirs(spark: SparkSession, state_dir: str) -> list[tuple[int, object]]:
    """(k, Hadoop path) of every `version=<int>` directory under
    `state_dir`, committed or aborted; [] when the dir does not exist."""
    fs, jpath = _hadoop_fs(spark, state_dir)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("version="):
            try:
                out.append((int(name.split("=", 1)[1]), status.getPath()))
            except ValueError:
                pass
    return out


def rollup_versions(spark: SparkSession, state_dir: str) -> list[tuple[int, dict]]:
    """Committed (version, manifest) pairs, ascending. A `version=k`
    directory with NO manifest.json is an aborted write — skipped; a
    manifest that exists but fails to read/parse raises (treating
    corruption as 'aborted' would silently serve stale state and then
    double-merge on the next update)."""
    out = []
    for version, _ in _version_dirs(spark, state_dir):
        mpath = _manifest_path(state_dir, version)
        mfs, mjpath = _hadoop_fs(spark, mpath)
        if mfs.exists(mjpath):  # manifest-less: uncommitted / aborted
            out.append((version, json.loads(_read_text(spark, mpath))))
    return sorted(out)


def _latest(spark: SparkSession, state_dir: str) -> tuple[int, dict] | None:
    versions = rollup_versions(spark, state_dir)
    return versions[-1] if versions else None


def rollup_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed per-(group, sketch_name) blob table."""
    latest = _latest(spark, state_dir)
    if latest is None:
        raise UsageError(f"no committed rollup state at {state_dir!r}")
    return spark.read.parquet(_blobs_path(state_dir, latest[0]))


def _check_config(latest: tuple[int, dict] | None, spec_names: list[str],
                  spec_sig: dict, group_cols: tuple[str, ...]) -> set[str]:
    """Refuse to advance a state built with a different configuration
    (names, group cols, OR same-named specs with different parameters);
    returns the stored file-lineage set."""
    if latest is None:
        return set()
    _, manifest = latest
    stored_sig = manifest.get("spec_signatures", {})
    if manifest["spec_names"] != spec_names or \
            manifest["group_cols"] != list(group_cols) or \
            stored_sig != spec_sig:
        raise UsageError(
            "rollup state config mismatch: stored "
            f"{manifest['spec_names']}/{manifest['group_cols']}"
            f"/{stored_sig} vs requested "
            f"{spec_names}/{list(group_cols)}/{spec_sig}")
    return set(manifest["files"])


def _blob_totals(blobs: DataFrame) -> tuple[int, dict[str, int]]:
    """(rows, {sketch_name: Σ rows_seen}) of a blob table from ONE
    aggregate: the manifest's `n_blob_rows` and `rows_seen_total`."""
    rows = (blobs.groupBy("sketch_name")
            .agg(F.count("*").alias("n"), F.sum("rows_seen").alias("total"))
            .collect())
    return (sum(int(r["n"]) for r in rows),
            {r["sketch_name"]: int(r["total"]) for r in rows})


def _publish(spark: SparkSession, state_dir: str, version: int,
             blobs: DataFrame, fields: dict,
             expect: tuple[int, dict] | None = None) -> int:
    """The one manifest-last commit every writer goes through: write
    `blobs` as `version=<k>/blobs`, total the PUBLISHED parquet, then
    write the manifest (`fields` plus the totals) LAST. `expect` is a
    restore's (source version, source manifest): a copy whose totals
    disagree with it raises before any manifest exists. Returns the
    blob row count."""
    path = _blobs_path(state_dir, version)
    # "overwrite", not "errorifexists": this version number can only
    # collide with an ABORTED previous attempt (a committed one would
    # have advanced _latest), and retrying over its half-written blobs
    # is exactly the recovery path the manifest-last protocol promises
    blobs.write.mode("overwrite").parquet(path)
    # total the published parquet, not `blobs` — re-running its plan
    # would recompute the merge tree; the table is |groups| × |specs|
    # rows. rows_seen_total is the north rule's metrics leg: deltas
    # between manifests give per-update ingest volume with no input scan
    n_rows, rows_seen = _blob_totals(spark.read.parquet(path))
    if expect is not None:
        src_version, src = expect
        if n_rows != src.get("n_blob_rows") or \
                rows_seen != src.get("rows_seen_total"):
            raise GenericError(
                f"restore copy of version={src_version} does not match its "
                f"manifest (rows {n_rows} vs {src.get('n_blob_rows')}, "
                f"rows_seen {rows_seen} vs {src.get('rows_seen_total')}) — "
                "not committing")
    manifest = {"version": version, "n_blob_rows": n_rows,
                "rows_seen_total": rows_seen, "updated_unix": time.time(),
                "generated_by": "p2pddsketch_spark.operators.rollup",
                **fields}
    # the manifest write IS the commit point — readers ignore
    # manifest-less versions, so a crash before this line leaves the
    # previous version live and this one invisible
    _write_text(spark, _manifest_path(state_dir, version),
                json.dumps(manifest, indent=1, sort_keys=True))
    return n_rows


def _state_partials(spark: SparkSession, state_dir: str, version: int,
                    group_cols: tuple[str, ...],
                    partition_id: int) -> DataFrame:
    """A committed version's blobs as stage-1 partials (salt 0): they
    re-enter a merge tree as one extra "partition", marked in lineage by
    a negative `partition_id`."""
    return (spark.read.parquet(_blobs_path(state_dir, version))
            .withColumn("salt", F.lit(0).cast("int"))
            .withColumn("partition_id", F.lit(partition_id).cast("int"))
            .withColumn("build_secs", F.lit(0.0))
            .select(*group_cols, *_PARTIAL_COLS))


def _merge_and_commit(spark: SparkSession, state_dir: str, partials: DataFrame,
                      group_cols: tuple[str, ...],
                      latest: tuple[int, dict] | None, done: set[str],
                      new: list[str], spec_names: list[str], spec_sig: dict,
                      extra: dict | None = None) -> dict:
    """Shared commit core for batch, streaming, and state-merge
    maintenance: fold the stored blobs into the new partials' merge
    tree and publish version k+1."""
    if latest is not None:
        # partition_id −2 marks from-state rows in lineage; associativity
        # makes the result identical to a one-shot build over done ∪ new
        partials = partials.unionByName(
            _state_partials(spark, state_dir, latest[0], group_cols, -2))
    merged = merge_partials(partials, group_cols)
    version = (latest[0] + 1) if latest else 1
    n_rows = _publish(
        spark, state_dir, version,
        merged.select(*group_cols, "sketch_name", "rows_seen", "sketch"),
        {"files": sorted(done | set(new)), "new_files": len(new),
         "spec_names": spec_names, "spec_signatures": spec_sig,
         "group_cols": list(group_cols), **(extra or {})})
    return {"version": version, "new_files": len(new),
            "total_files": len(done) + len(new),
            "groups": n_rows // max(len(spec_names), 1), "noop": False}


def rollup_update(spark: SparkSession, input_path: str, state_dir: str,
                  specs: list[SketchSpec], group_cols: tuple[str, ...] = (),
                  salt_buckets: int = 8, files_per_task: int = 4) -> dict:
    """Advance the rollup by the input files not yet in the state.

    Returns stats: {"version", "new_files", "total_files", "groups",
    "noop"}. Raises UsageError when the stored state was built with a
    different spec/group configuration — including same-named specs
    with different parameters (zero-state signatures) — since merging
    incompatible sketch sets would corrupt the warehouse."""
    latest = _latest(spark, state_dir)
    spec_names, spec_sig = sorted(s.name for s in specs), _spec_signature(specs)
    done = _check_config(latest, spec_names, spec_sig, group_cols)

    paths = [_canon_path(p) for p in parquet_file_list(input_path)]
    new = [p for p in paths if p not in done]
    if not new:
        version = latest[0] if latest else 0
        return {"version": version, "new_files": 0,
                "total_files": len(done), "groups": None, "noop": True}

    partials = build_partials_from_files(
        spark, new, specs, group_cols, salt_buckets, files_per_task)
    return _merge_and_commit(spark, state_dir, partials, group_cols, latest,
                             done, new, spec_names, spec_sig)


def _norm_uri(p: str) -> str:
    """Map a Spark file URI (`file:/x`, `file:///x`, percent-encoded)
    onto the manifest's canonical local-path identity — Spark's
    metadata logs record URIs with %20-style escaping, while batch-mode
    `parquet_file_list` records plain globbed paths, and the two MUST
    agree or the anti-join / overlap guard silently break. Non-file
    URIs (and file URIs with a remote authority) pass through verbatim:
    both maintenance modes record those in the same spelling."""
    if not p.startswith("file:"):
        return _canon_path(p)
    from urllib.parse import unquote, urlparse
    u = urlparse(p)
    if u.netloc not in ("", "localhost"):
        return p  # remote-host file URI: no local identity to fold to
    return _canon_path(unquote(u.path))


def _source_log_files(spark: SparkSession, checkpoint_dir: str,
                      batch_id: int) -> list[str] | None:
    """The files of micro-batch `batch_id`, read from the file source's
    own metadata log (`sources/0/<id>`, written at DISCOVERY time —
    zero extra input I/O). Compacted log files (`<id>.compact`) carry
    the cumulative history, so entries are filtered by their recorded
    batchId. None when the log isn't where a single-file-source query
    puts it (non-file source) — callers fall back to scanning."""
    base = posixpath.join(checkpoint_dir, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        path = posixpath.join(base, name)
        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            continue
        out = set()
        for line in _read_text(spark, path).splitlines():
            line = line.strip()
            if not line or line[0] == "v":   # version header
                continue
            entry = json.loads(line)
            if entry.get("batchId", batch_id) == batch_id:
                out.add(_norm_uri(entry["path"]))
        return sorted(out)
    return None


_IDLE_DROP = "input dir absent or empty (producer race)"


def _stream_pass(spark: SparkSession, input_dir: str, state_dir: str,
                 checkpoint_dir: str | None, spec_names: list[str],
                 spec_sig: dict, group_cols: tuple[str, ...],
                 max_files_per_trigger: int | None, ingest) -> int | None:
    """The one `availableNow` pass behind both stream maintainers: each
    micro-batch is config-checked against the latest commit, resolved to
    its files, fenced when every file is already committed, refused
    when it mixes committed and new files, and otherwise handed to
    `ingest(batch_df, batch_id, latest, done, files)`. Returns the number
    of fenced batches, or None when the drop dir is verifiably absent or
    empty and no query was started."""
    if checkpoint_dir is None:
        raise UsageError("checkpoint_dir is required (it is the "
                         "exactly-once discovery ledger)")
    # static probe for the schema the file source requires. A drop dir
    # that VERIFIABLY doesn't exist yet / has no files yet is a routine
    # cron race with the producer — that pass is a no-op exactly like
    # zero new batches. The check is an explicit FS probe, NOT a broad
    # except around schema inference: a typo'd path must keep raising
    # loudly, or a cron'd stream job reports healthy-idle forever while
    # ingesting nothing. Glob inputs skip the probe (exists() doesn't
    # expand patterns) and keep the strict raise-on-no-match behavior.
    if not any(ch in input_dir for ch in "*?[{"):
        fs, jpath = _hadoop_fs(spark, input_dir)
        empty = not fs.exists(jpath)
        if not empty and fs.getFileStatus(jpath).isDirectory():
            empty = not fs.listFiles(jpath, True).hasNext()
        if empty:
            return None
    schema = spark.read.parquet(input_dir).schema
    fenced = 0

    def advance(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal fenced
        latest = _latest(spark, state_dir)
        done = _check_config(latest, spec_names, spec_sig, group_cols)
        files = _source_log_files(spark, checkpoint_dir, int(batch_id))
        if files is None:  # non-file source: pay one scan for lineage
            files = sorted({_norm_uri(r[0]) for r in batch_df
                            .select(F.input_file_name()).distinct().collect()})
        overlap = [p for p in files if p in done]
        if len(overlap) == len(files):
            # every file already committed (or nothing to ingest): a
            # crash-replayed or checkpoint-reset batch — fenced. The
            # lineage-subset rule, NOT a batch-id comparison, so an
            # interleaved batch-mode update (which advances the
            # manifest without stream keys) can't break the fence.
            fenced += 1
            return
        if overlap:
            raise UsageError(
                "streaming batch mixes files already in the state "
                f"manifest (e.g. {overlap[0]!r}) with new ones: this "
                "checkpoint's discovery ledger disagrees with the state "
                "lineage — skipping would lose the new files, merging "
                "would double-count the old. Use the checkpoint that "
                "built this state, or a fresh state dir.")
        ingest(batch_df, int(batch_id), latest, done, files)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    (reader.parquet(input_dir).writeStream.foreachBatch(advance)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True).start().awaitTermination())
    return fenced


def rollup_stream_update(spark: SparkSession, input_dir: str, state_dir: str,
                         specs: list[SketchSpec],
                         group_cols: tuple[str, ...] = (),
                         checkpoint_dir: str | None = None,
                         salt_buckets: int = 8,
                         max_files_per_trigger: int | None = None) -> dict:
    """Continuous warehouse maintenance: one `availableNow` Structured
    Streaming pass over a parquet drop directory. Each micro-batch
    advances the SAME versioned state `rollup_update` maintains, through
    the same manifest-last commit — so a query job never sees a
    half-published version no matter which maintenance mode wrote it.

    Exactly-once across the two ledgers involved:
      * the file-source CHECKPOINT is the discovery ledger (which files
        each batch contains);
      * the fence is the manifest FILE LINEAGE itself: a micro-batch
        whose files are ALL already in the committed manifest is a
        replay (crash between manifest commit and checkpoint commit,
        or a reset checkpoint re-emitting history) and is skipped —
        this stays correct even when batch-mode updates interleave and
        advance the manifest in between, which a batch-id comparison
        would not (`stream_checkpoint`/`stream_batch_id` are still
        recorded per commit, but only as observability metadata);
      * batch-file lineage lands in the manifest `files` list, so a
        later batch-mode `rollup_update` over the same directory is a
        no-op (stream → batch interop is seamless). The REVERSE hazard —
        a batch MIXING already-ingested files with new ones (a fresh
        checkpoint pointed at a state built from this directory plus
        newly landed files), where skipping loses data and merging
        double-counts — is refused loudly. Corollary: batch → stream
        migration is pointing a fresh checkpoint at the drop dir while
        it is quiescent — the first pass fences the whole history and
        later passes ingest only files that land afterwards.

    The reference simulator has no streaming ingest at all (its event
    loop re-reads the full dataset per run, /root/reference/main.cpp:
    214-396); this is the north_rule's "continuously maintained"
    warehouse leg on Spark's own micro-batch engine."""
    spec_names, spec_sig = sorted(s.name for s in specs), _spec_signature(specs)
    stats = {"batches": 0, "new_files": 0}

    def ingest(batch_df, batch_id, latest, done, files):
        partials = build_partials(batch_df, specs, group_cols, salt_buckets)
        _merge_and_commit(
            spark, state_dir, partials, group_cols, latest, done, files,
            spec_names, spec_sig,
            extra={"stream_checkpoint": checkpoint_dir,
                   "stream_batch_id": batch_id})
        stats["batches"] += 1
        stats["new_files"] += len(files)

    fenced = _stream_pass(spark, input_dir, state_dir, checkpoint_dir,
                          spec_names, spec_sig, group_cols,
                          max_files_per_trigger, ingest)
    latest = _latest(spark, state_dir)
    out = {"version": latest[0] if latest else 0,
           "batches": stats["batches"], "batches_fenced": fenced or 0,
           "new_files": stats["new_files"],
           "total_files": len(latest[1]["files"]) if latest else 0,
           "noop": stats["batches"] == 0}
    if fenced is None:
        out["reason"] = _IDLE_DROP
    return out


def _bloom_fill(spark: SparkSession, state_dir: str,
                version: int) -> float | None:
    """Bit-fill ratio of the OR of a committed version's Bloom blobs;
    None when the version stores no blob."""
    blobs = [bytes(r["sketch"]) for r in
             spark.read.parquet(_blobs_path(state_dir, version))
             .select("sketch").collect()]
    if not blobs:
        return None
    bf = sketch_from_bytes(merge_blobs(blobs))
    return float(np.unpackbits(bf.bits.view(np.uint8)).mean())


def rollup_stream_dedup(spark: SparkSession, input_dir: str, state_dir: str,
                        out_dir: str, key_col: str,
                        checkpoint_dir: str | None = None,
                        hash_of: str | None = None,
                        m_bits: int = 1 << 22, k: int = 5,
                        salt_buckets: int = 8,
                        max_files_per_trigger: int | None = None,
                        max_fill: float = 0.5) -> dict:
    """Streaming DEDUP INGEST: drain a parquet drop directory under
    `availableNow`, and per micro-batch (1) drop rows whose int64
    `key_col` duplicates an earlier row of the SAME batch, (2) drop
    rows whose key the warehouse's Bloom state has EVER ingested,
    (3) append the survivors to `out_dir` and (4) fold the survivors'
    keys into the Bloom state — so the output corpus carries globally
    unique keys across every batch and every run (Bloom has no false
    negatives; the cost is its FP rate of genuinely-new rows dropped).

    State == corpus content: only SURVIVOR keys enter the filter, so a
    key lost to a false positive stays absent from both, and the
    invariant "out_dir keys are exactly the state's ingested keys"
    holds version for version.

    Exactly-once across the three ledgers (checkpoint, state manifest,
    output dir): the state commit reuses `rollup_stream_update`'s
    lineage fence, and survivors land at
    `out_dir/ingest_version=<state version>` with mode("overwrite") —
    a crash between the survivors write and the manifest commit
    recomputes the same version from the same state and overwrites the
    same directory; a replay after the manifest commit is fenced
    before either write. Among same-key rows within one batch the kept
    ROW is arbitrary (key semantics only).

    A saturating filter is DATA LOSS, not degradation: past ~50% bit
    fill the FP rate climbs steeply and ever more genuinely-new rows
    get dropped as "seen". Each batch therefore refuses loudly (before
    ingesting anything) once the state's fill ratio exceeds
    `max_fill` — re-shard into a bigger `m_bits` state instead of
    silently discarding the firehose. Size m ≈ n·k/ln2 bits for the
    expected corpus cardinality n; the final fill ratio rides the
    return stats and every commit manifest.

    The reference has no ingest pipeline at all (it re-reads its full
    dataset per run, /root/reference/main.cpp:214-396); this is the
    brief's training-data firehose: raw drops in, deduped corpus +
    queryable sketch state out."""
    from p2pddsketch_spark.sketches.bloom import BloomFilter
    specs = [SketchSpec("bloom", lambda: BloomFilter(m_bits=m_bits, k=k),
                        scalar_int_extractor(key_col))]
    spec_sig = _spec_signature(specs)
    stats = {"batches": 0, "rows_in": 0, "rows_kept": 0}

    def ingest(batch_df, batch_id, latest, done, files):
        if hash_of is not None:
            batch_df = batch_df.withColumn(key_col, F.xxhash64(hash_of))
        n_in = batch_df.count()
        batch_df = batch_df.dropDuplicates([key_col])
        fill = _bloom_fill(spark, state_dir, latest[0]) if latest else None
        if fill is None:
            survivors = batch_df
        else:
            if fill > max_fill:
                raise UsageError(
                    f"dedup Bloom state at {state_dir!r} is "
                    f"{100 * fill:.1f}% full (max_fill="
                    f"{100 * max_fill:.0f}%): past this point the FP "
                    "rate silently drops genuinely-new rows — re-shard "
                    "into a larger m_bits state (m ≈ n·k/ln2 for "
                    "expected corpus cardinality n)")
            survivors = rollup_dedup_filter(
                spark, batch_df, state_dir, key_col, _versions=[latest],
                version=latest[0])
        version = (latest[0] + 1) if latest else 1
        dest = out_dir.rstrip("/") + f"/ingest_version={version}"
        # the survivors plan executes exactly once (this write); the
        # state partials then re-read DEST, so the corpus and the state
        # cannot diverge even though dropDuplicates picks an arbitrary
        # row among same-key duplicates
        survivors.write.mode("overwrite").parquet(dest)
        n_kept = spark.read.parquet(dest).count()
        partials = build_partials(spark.read.parquet(dest), specs, (),
                                  salt_buckets)
        _merge_and_commit(
            spark, state_dir, partials, (), latest, done, files, ["bloom"],
            spec_sig,
            extra={"stream_checkpoint": checkpoint_dir,
                   "stream_batch_id": batch_id,
                   "ingest_out": dest, "rows_in": int(n_in),
                   "rows_kept": int(n_kept),
                   "state_fill_pct_before":
                       0.0 if fill is None else round(100.0 * fill, 3)})
        stats["batches"] += 1
        stats["rows_in"] += int(n_in)
        stats["rows_kept"] += int(n_kept)

    fenced = _stream_pass(spark, input_dir, state_dir, checkpoint_dir,
                          ["bloom"], spec_sig, (), max_files_per_trigger,
                          ingest)
    latest = _latest(spark, state_dir)
    version = latest[0] if latest else 0
    if fenced is None:
        return {"version": version, "batches": 0, "batches_fenced": 0,
                "rows_in": 0, "rows_kept": 0, "noop": True,
                "reason": _IDLE_DROP}
    fill = _bloom_fill(spark, state_dir, version) if latest else None
    return {"version": version,
            "batches": stats["batches"],
            "batches_fenced": fenced,
            "rows_in": stats["rows_in"],
            "rows_kept": stats["rows_kept"],
            "fill_pct": None if fill is None else round(100.0 * fill, 3),
            "noop": stats["batches"] == 0}


def rollup_prune(spark: SparkSession, state_dir: str, keep: int = 2) -> dict:
    """Delete all but the newest `keep` committed versions (plus every
    aborted manifest-less directory older than the newest committed one)
    — the retention lever that keeps state-dir size O(keep · blobs)
    under daily updates instead of O(versions · blobs)."""
    if keep < 1:
        raise UsageError("keep must be >= 1")
    versions = rollup_versions(spark, state_dir)
    if not versions:
        return {"deleted": [], "kept": []}
    keep_set = {v for v, _ in versions[-keep:]}
    newest = versions[-1][0]
    fs, _ = _hadoop_fs(spark, state_dir)
    deleted = []
    for v, path in _version_dirs(spark, state_dir):
        # aborted dirs NEWER than the committed tip are a retry in
        # flight — never delete those out from under a live update
        if v not in keep_set and v <= newest:
            fs.delete(path, True)
            deleted.append(v)
    return {"deleted": sorted(deleted), "kept": sorted(keep_set)}


def rollup_restore(spark: SparkSession, state_dir: str,
                   to_version: int) -> dict:
    """Roll the warehouse back to a committed version — by COMMITTING
    FORWARD, never by deleting the tip: version k+1 is a copy of
    `to_version`'s blobs and file lineage, manifest-marked
    `restored_from`. Readers that pinned the bad tip keep working, the
    commit history stays append-only (the Delta RESTORE / Iceberg
    rollback shape), and because the restored manifest's `files` no
    longer contain the undone inputs, the next `rollup_update` re-folds
    exactly those files — so restore + re-ingest reproduces the
    original state (associativity; pytest-pinned).

    The copy is a blob-table read+write (tiny: |groups| × |specs| rows)
    verified against the source manifest's `n_blob_rows` and
    `rows_seen_total` BEFORE the manifest-last commit, so a torn copy
    can never become the live tip. Restoring TO the tip is a no-op
    (nothing to undo); restoring to an aborted/unknown version raises.
    `rollup_fsck` understands the marker: a restore commit is audited
    against its SOURCE version (identity) rather than its predecessor
    (monotone growth), plus a containment check that it cannot
    introduce lineage the predecessor never had."""
    versions = rollup_versions(spark, state_dir)
    if not versions:
        raise UsageError(f"no committed rollup state at {state_dir!r}")
    by_v = dict(versions)
    tip, _ = versions[-1]
    if to_version not in by_v:
        raise UsageError(
            f"version {to_version} is not committed in {state_dir!r} "
            f"(committed: {sorted(by_v)})")
    if to_version == tip:
        return {"version": tip, "restored_from": to_version, "noop": True}
    src = by_v[to_version]
    missing = [k for k in ("files", "spec_names", "spec_signatures",
                           "group_cols", "n_blob_rows", "rows_seen_total")
               if k not in src]
    if missing:
        raise UsageError(
            f"version {to_version} manifest is missing {missing} — "
            "refusing to restore from a corrupt source (run fsck)")
    version = tip + 1
    _publish(spark, state_dir, version,
             spark.read.parquet(_blobs_path(state_dir, to_version)),
             {"restored_from": to_version, "files": src["files"],
              "new_files": 0, "spec_names": src["spec_names"],
              "spec_signatures": src["spec_signatures"],
              "group_cols": src["group_cols"]},
             expect=(to_version, src))
    return {"version": version, "restored_from": to_version,
            "total_files": len(src["files"]), "noop": False}


def rollup_merge_states(spark: SparkSession, source_dirs: list[str],
                        dest_dir: str) -> dict:
    """Merge N independently-built warehouse states into a fresh one —
    the multi-cluster fan-in: each region/cluster maintains its own
    rollup state over its local drop, and a periodic merge job folds
    them into one global warehouse without ever co-locating (or even
    re-reading) the input data. Only the per-(group, sketch) blob
    tables move; mergeability/associativity (the same property behind
    incremental update == one-shot rebuild) makes the result
    byte-identical to a single warehouse built over the union of all
    sources' input files.

    Refuses loudly when (a) any source has no committed state, (b) the
    sources were built with different spec/group configurations
    (zero-state signatures — same guard as `rollup_update`), (c) two
    sources share input-file lineage (merging would double-count those
    rows), or (d) `dest_dir` already has committed state (a merge
    target is born fresh; subsequent `rollup_update` calls can advance
    it, since the manifest carries the sources' spec signatures).

    Reference analog: the gossip protocol's whole purpose —
    `DDS_MergeCollapse` folding peer states into a global one
    (/root/reference/ddsketch.cc:716-789) — minus the convergence
    rounds: one exact merge, not an epidemic average."""
    if len(source_dirs) < 2:
        raise UsageError("state merge needs at least 2 source dirs")
    canon = [_canon_path(d.rstrip("/")) for d in source_dirs]
    if len(set(canon)) != len(canon):
        raise UsageError("duplicate source dirs in state merge")
    if _canon_path(dest_dir.rstrip("/")) in set(canon):
        raise UsageError("dest dir must not be one of the sources")
    if _latest(spark, dest_dir) is not None:
        raise UsageError(
            f"dest {dest_dir!r} already has committed state; merge "
            "targets are born fresh (advance them with update/stream)")

    sources = []
    for d in source_dirs:
        latest = _latest(spark, d)
        if latest is None:
            raise UsageError(f"no committed rollup state at {d!r}")
        sources.append((d, *latest))

    _, _, first = sources[0]
    config = (first["spec_names"], first["spec_signatures"],
              first["group_cols"])
    for d, _, m in sources[1:]:
        got = (m["spec_names"], m["spec_signatures"], m["group_cols"])
        if got != config:
            raise UsageError(
                f"state config mismatch: {sources[0][0]!r} has "
                f"{config} but {d!r} has {got}")

    seen: dict[str, str] = {}
    overlap = []
    for d, _, m in sources:
        for f in m["files"]:
            if f in seen:
                overlap.append((f, seen[f], d))
            seen[f] = d
    if overlap:
        f, a, b = overlap[0]
        raise UsageError(
            f"{len(overlap)} input file(s) appear in more than one "
            f"source's lineage (first: {f!r} in both {a!r} and {b!r}); "
            "merging would double-count their rows")

    group_cols = tuple(first["group_cols"])
    # distinct negative partition ids keep per-source provenance visible
    # in lineage, mirroring the -2 "from-state" marker in _merge_and_commit
    partials = functools.reduce(DataFrame.unionByName, [
        _state_partials(spark, d, v, group_cols, -3 - i)
        for i, (d, v, _) in enumerate(sources)])
    stats = _merge_and_commit(
        spark, dest_dir, partials, group_cols, None, set(), sorted(seen),
        first["spec_names"], first["spec_signatures"],
        extra={"merged_from": [{"state_dir": d, "version": v,
                                "files": len(m["files"])}
                               for d, v, m in sources]})
    return {"version": stats["version"], "sources": len(sources),
            "total_files": stats["total_files"],
            "groups": stats["groups"], "noop": False}


def rollup_fsck(spark: SparkSession, state_dir: str,
                deep: bool = False) -> dict:
    """CI-style audit of a warehouse state dir — every commit-protocol
    invariant the rollup relies on, checked without mutating anything:

    * at least one committed version; manifests parse (corruption in
      `rollup_versions` raises already — reported here as a finding,
      not a traceback);
    * per-version: blob directory exists, its row count equals the
      manifest's `n_blob_rows`, per-family rows_seen sums equal the
      manifest's `rows_seen_total`, and the row count is
      groups × |spec_names|;
    * across versions: spec_names / spec_signatures / group_cols never
      change, `files` lineage only grows (a shrinking lineage means a
      later commit forgot earlier input and would re-merge it), and
      per-family rows_seen never decreases (ingest-only streams are
      monotone) — EXCEPT at a `restored_from` commit, which is instead
      audited for identity with its source version (when still
      committed) and containment in its predecessor;
    * aborted manifest-less `version=k` dirs are counted (normal debris
      below the tip, a retry in flight above it — `rollup_prune` policy);
    * `deep=True` additionally decodes EVERY blob on the executors and
      re-serializes it (`sketch_from_bytes(b).to_bytes() == b` — wire
      corruption surfaces here, at audit time, not mid-query).

    Returns {"ok": bool, "versions": [...], "aborted": [...],
    "findings": [str, ...]} — empty findings iff ok. The warehouse twin
    of `validate.py --sequences-audit`."""
    findings: list[str] = []
    try:
        versions = rollup_versions(spark, state_dir)
    except Exception as e:  # corrupt manifest: report, don't trace
        return {"ok": False, "versions": [], "aborted": [],
                "findings": [f"manifest unreadable: {e}"]}
    if not versions:
        return {"ok": False, "versions": [], "aborted": [],
                "findings": [f"no committed rollup state at {state_dir!r}"]}

    committed = {v for v, _ in versions}
    aborted = [v for v, _ in _version_dirs(spark, state_dir)
               if v not in committed]

    prev = None
    for v, m in versions:
        tag = f"version={v}"
        for key in ("spec_names", "spec_signatures", "group_cols",
                    "files", "n_blob_rows", "rows_seen_total"):
            if key not in m:
                findings.append(f"{tag}: manifest missing {key!r}")
        # cross-version manifest invariants need no blob data — check
        # them BEFORE the blob read so an unreadable blob dir can't
        # mask config drift / lineage shrink / metric regression
        if prev is not None:
            pv, pm = prev
            for key in ("spec_names", "spec_signatures", "group_cols"):
                if m.get(key) != pm.get(key):
                    findings.append(
                        f"{tag}: {key} changed vs version={pv} "
                        f"({pm.get(key)} -> {m.get(key)})")
            if "restored_from" in m:
                # a restore commit legitimately SHRINKS lineage and
                # rows_seen — audit it against its source instead:
                # identity with the restored version (when its manifest
                # still exists; prune may have removed it) plus
                # containment in the predecessor (a restore can only
                # undo history, never invent it)
                rf = m["restored_from"]
                # bool is an int subclass and JSON `true` hashes like 1,
                # so a tampered marker could alias version 1; a list is
                # unhashable and would TypeError out of dict.get —
                # either way, report the finding and skip the source
                # audit instead of crashing the auditor
                if not isinstance(rf, int) or isinstance(rf, bool) \
                        or rf >= v:
                    findings.append(
                        f"{tag}: restored_from={rf!r} is not an "
                        f"earlier version")
                    sm = None
                else:
                    sm = dict(versions).get(rf)
                if sm is not None:
                    for key in ("files", "rows_seen_total", "n_blob_rows"):
                        if m.get(key) != sm.get(key):
                            findings.append(
                                f"{tag}: {key} differs from restore "
                                f"source version={rf}")
                extra = set(m.get("files", [])) - set(pm.get("files", []))
                if extra:
                    findings.append(
                        f"{tag}: restore introduces files version={pv} "
                        f"never had (first: {sorted(extra)[:3]})")
                for fam, cur in (m.get("rows_seen_total") or {}).items():
                    tot = (pm.get("rows_seen_total") or {}).get(fam)
                    if tot is not None and cur > tot:
                        findings.append(
                            f"{tag}: restore rows_seen_total[{fam}] "
                            f"exceeds version={pv} ({cur} > {tot})")
            else:
                lost = set(pm.get("files", [])) - set(m.get("files", []))
                if lost:
                    findings.append(
                        f"{tag}: file lineage shrank vs version={pv} "
                        f"(lost {len(lost)}, first: {sorted(lost)[:3]})")
                for fam, tot in (pm.get("rows_seen_total") or {}).items():
                    cur = (m.get("rows_seen_total") or {}).get(fam)
                    if cur is not None and cur < tot:
                        findings.append(
                            f"{tag}: rows_seen_total[{fam}] decreased vs "
                            f"version={pv} ({tot} -> {cur})")
        prev = (v, m)
        try:
            blobs = spark.read.parquet(_blobs_path(state_dir, v))
        except Exception as e:
            findings.append(f"{tag}: blob table unreadable: {e}")
            continue
        n, seen_tot = _blob_totals(blobs)
        if n != m.get("n_blob_rows"):
            findings.append(
                f"{tag}: blob rows {n} != manifest n_blob_rows "
                f"{m.get('n_blob_rows')}")
        n_specs = max(len(m.get("spec_names", [])), 1)
        if n % n_specs:
            findings.append(
                f"{tag}: blob rows {n} not a multiple of "
                f"{n_specs} spec families (a group is missing a blob)")
        if seen_tot != m.get("rows_seen_total"):
            findings.append(
                f"{tag}: per-family rows_seen {seen_tot} != manifest "
                f"rows_seen_total {m.get('rows_seen_total')}")
        if deep:
            def probe(batches):
                import pandas as pd
                from p2pddsketch_spark.operators.harness import \
                    sketch_from_bytes as sfb
                for pdf in batches:
                    bad = 0
                    for blob in pdf["sketch"]:
                        b = bytes(blob)
                        try:
                            if sfb(b).to_bytes() != b:
                                bad += 1
                        except Exception:
                            bad += 1
                    yield pd.DataFrame({"bad": [bad]})
            n_bad = (blobs.select("sketch")
                     .mapInPandas(probe, schema="bad long")
                     .agg(F.sum("bad")).collect()[0][0])
            if n_bad:
                findings.append(
                    f"{tag}: {n_bad} blob(s) fail decode/re-serialize")

    return {"ok": not findings, "versions": [v for v, _ in versions],
            "aborted": sorted(aborted), "findings": findings}


def _version_state(spark: SparkSession, state_dir: str, sketch_name: str,
                   version: int | None = None,
                   versions: list[tuple[int, dict]] | None = None):
    """(filtered blob table, group_cols, version, manifest) for one
    committed version — the latest when `version` is None. Pass a
    pre-fetched `rollup_versions` result to avoid re-listing the state
    dir and re-reading every manifest (they carry full file lineage, so
    a long-lived warehouse's manifest scan is not free)."""
    if versions is None:
        versions = rollup_versions(spark, state_dir)
    if not versions:
        raise UsageError(f"no committed rollup state at {state_dir!r}")
    if version is None:
        version, manifest = versions[-1]
    else:
        vmap = dict(versions)
        if version not in vmap:
            raise UsageError(
                f"no committed version {version} at {state_dir!r} "
                f"(committed: {[v for v, _ in versions]})")
        manifest = vmap[version]
    stored = manifest["spec_names"]
    if sketch_name not in stored:
        raise UsageError(
            f"no {sketch_name!r} blobs in this state (stored: {stored})")
    group_cols = tuple(manifest["group_cols"])
    st = (spark.read.parquet(_blobs_path(state_dir, version))
          .where(F.col("sketch_name") == sketch_name))
    return st, group_cols, version, manifest


def _blob_query(spark: SparkSession, state_dir: str, sketch_name: str,
                version: int | None, versions: list | None,
                method: str | None, ddl: str, rows_of, order) -> DataFrame:
    """The one read stage behind every stored-blob reader: a mapInArrow
    over the committed version's blob rows (one per group) that decodes
    each blob once and emits `rows_of(sketch, fn, rows_seen)`'s tuples
    (matching `ddl`) behind the row's group columns, which ride through
    with their stored Arrow types. `fn` is the sketch's bound `method`
    — a family without it is a clean UsageError — or None when the
    reader dispatches on the family itself. NaN values become SQL NULL:
    an empty sketch (a group whose value column was entirely NULL)
    yields NULL estimates instead of poisoning the whole query — the
    SQL-NULL rendering of the reference implementation's empty-bin NaN
    rule. Rows come back ordered by (group…, *order)."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType
    st, group_cols, _, _ = _version_state(spark, state_dir, sketch_name,
                                          version, versions)
    values = StructType.fromDDL(ddl).fields
    schema = StructType([st.schema[c] for c in group_cols] + values)
    types = [to_arrow_type(f.dataType) for f in values]
    keys, names = list(group_cols), schema.fieldNames()

    def run(batches):
        import pyarrow as pa
        for batch in batches:
            idx, rows = [], []
            for i, (blob, rows_seen) in enumerate(zip(
                    batch.column("sketch").to_pylist(),
                    batch.column("rows_seen").to_pylist())):
                sk = sketch_from_bytes(blob)
                fn = getattr(sk, method, None) if method else None
                if method and fn is None:
                    raise UsageError(
                        f"sketch {sketch_name!r} ({type(sk).__name__}) "
                        f"does not support {method!r}")
                for row in rows_of(sk, fn, rows_seen):
                    idx.append(i)
                    rows.append(row)
            cols = list(zip(*rows)) or [()] * len(types)
            taken = batch.select(keys).take(pa.array(idx, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                taken.columns + [pa.array(c, type=t, from_pandas=True)
                                 for c, t in zip(cols, types)],
                names=names)

    return st.mapInArrow(run, schema).orderBy(*group_cols, *order)


def rollup_quantiles(spark: SparkSession, state_dir: str, sketch_name: str,
                     qs: list[float], version: int | None = None,
                     _versions: list | None = None) -> DataFrame:
    """Quantile estimates straight from the stored blobs (DDSketch, KLL,
    t-digest, REQ, moment — anything with `.quantile(q)`): one
    mapInArrow over |groups| rows, zero input-data re-scan. Grouping
    columns are read from the committed manifest; `version` picks a
    specific committed version (default latest)."""
    def rows(sk, fn, rows_seen):
        n = getattr(sk, "n", 0)
        for q in qs:
            yield float(q), np.nan if n == 0 else float(fn(q)), int(n)

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "quantile", "q double, estimate double, n long", rows,
                       ["q"])


def rollup_cardinality(spark: SparkSession, state_dir: str,
                       sketch_name: str, version: int | None = None,
                       _versions: list | None = None) -> DataFrame:
    """Distinct-count estimates from stored HLL/theta blobs; grouping
    columns are read from the committed manifest; `version` picks a
    specific committed version (default latest)."""
    def rows(sk, fn, rows_seen):
        yield float(fn()), rows_seen

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "cardinality", "estimate double, rows_seen long", rows,
                       [])


def rollup_overlap(spark: SparkSession, state_dir: str,
                   sketch_name: str = "theta", version: int | None = None,
                   _versions: list | None = None) -> DataFrame:
    """Pairwise distinct-set overlap between GROUPS from stored theta
    blobs: |A∩B|, |A∪B| and Jaccard for every group pair, zero input
    re-scan — the corpus-overlap monitor ("how much does crawl dump A
    share with dump B?") answered from committed warehouse state, and
    from any committed `version` for time travel. Only theta supports
    set intersection (HLL can only union — sketches/theta.py:2-4);
    a non-theta family is a clean UsageError, not an AttributeError.

    Scale shape: one blob per group is collected (k-bounded, ≤ k
    hashes each) and the |G|·(|G|−1)/2 pairs are computed driver-side
    on the tiny summaries — the whole point of set-operation sketches.
    Group keys are emitted as `<col>_a` / `<col>_b` column pairs in
    lexicographic pair order. Under-k regime estimates are exact
    (hard-oracle-testable); past k they carry the KMV error bound."""
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    st, group_cols, _, _ = _version_state(spark, state_dir, sketch_name,
                                          version, _versions)
    rows = st.collect()
    decoded = []
    for row in rows:
        sk = sketch_from_bytes(bytes(row["sketch"]))
        if not isinstance(sk, ThetaSketch):
            raise UsageError(
                f"overlap needs theta blobs (set intersection); "
                f"{sketch_name!r} decodes to {type(sk).__name__}")
        decoded.append((tuple(row[c] for c in group_cols), sk))
    decoded.sort(key=lambda t: t[0])
    out = []
    for i in range(len(decoded)):
        ka, sa = decoded[i]
        for kb, sb in decoded[i + 1:]:
            inter = float(np.round(sa.intersection_cardinality(sb), 1))
            union = float(np.round(sa.union_cardinality(sb), 1))
            jac = float(np.round(inter / union, 6)) if union > 0 else None
            out.append(tuple(ka) + tuple(kb) + (inter, union, jac))
    gddl_a = "".join(f"{c}_a {st.schema[c].dataType.simpleString()}, "
                     for c in group_cols)
    gddl_b = "".join(f"{c}_b {st.schema[c].dataType.simpleString()}, "
                     for c in group_cols)
    ddl = f"{gddl_a}{gddl_b}inter_est double, union_est double, jaccard double"
    order = [f"{c}_a" for c in group_cols] + [f"{c}_b" for c in group_cols]
    return spark.createDataFrame(out or [], ddl).orderBy(*order)


def rollup_dedup_filter(spark: SparkSession, df: DataFrame, state_dir: str,
                        key_col: str, sketch_name: str = "bloom",
                        version: int | None = None, keep: str = "new",
                        _versions: list | None = None) -> DataFrame:
    """Filter a NEW batch against the warehouse's Bloom state: the
    incremental-dedup primitive — dedup arriving data against ALL
    previously-ingested data without rescanning history. Stored blobs
    (every group's, at the chosen committed `version`) OR-merge into
    one filter, broadcast kilobytes, probed in a vectorized mapInArrow
    stage; `df` never shuffles.

    `keep="new"` returns rows whose int64 `key_col` was NEVER ingested
    — guaranteed, because Bloom has no false negatives (a previously
    seen key always hits the filter and is dropped). The cost is the
    false-positive rate: that fraction of genuinely-new rows is dropped
    too (conservative dedup — right for training-data pipelines, where
    a lost new doc is cheap and a duplicate is not). `keep="seen"`
    returns the complement: a SUPERSET of the truly-seen rows (FP
    inflated), the candidate set for an exact verify join.

    `key_col` must carry the same int64 key space the stored blobs
    ingested (token ids for the CLI's token-family bloom; a document
    hash for a doc-level dedup state built via
    `SketchSpec("bloom", ..., scalar_int_extractor(...))`)."""
    from p2pddsketch_spark.sketches.bloom import BloomFilter
    if keep not in ("new", "seen"):
        raise UsageError(f"keep must be 'new' or 'seen', got {keep!r}")
    st, _, _, _ = _version_state(spark, state_dir, sketch_name,
                                 version, _versions)
    blobs = [bytes(r["sketch"]) for r in st.select("sketch").collect()]
    merged = merge_blobs(blobs)
    if not isinstance(sketch_from_bytes(merged), BloomFilter):
        raise UsageError(
            f"dedup filter needs bloom blobs (membership); {sketch_name!r} "
            f"decodes to {type(sketch_from_bytes(merged)).__name__}")
    bblob = spark.sparkContext.broadcast(merged)
    key_idx = df.columns.index(key_col)
    want_new = keep == "new"

    def probe(batches):
        import pyarrow as pa
        bf = sketch_from_bytes(bblob.value)
        for batch in batches:
            keys = batch.column(key_idx).to_numpy(zero_copy_only=False)
            hit = bf.contains(keys.astype(np.int64))
            yield batch.filter(pa.array(~hit if want_new else hit))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    return df.mapInArrow(probe, schema)


def rollup_histogram(spark: SparkSession, state_dir: str,
                     sketch_name: str = "dds", version: int | None = None,
                     window: int | None = None, now: int | None = None,
                     _versions: list | None = None) -> DataFrame:
    """Per-group value histograms straight from stored DDSketch blobs —
    the warehouse twin of the reference's CSV export (`DDS_PrintCSV`,
    /root/reference/ddsketch.cc:913-954): one row per occupied log-γ
    bin with its exact count and value bounds, zero input re-scan. The
    γ-bucketed histogram IS the sketch's full state, so this is a
    lossless dump, not an estimate. For wdds blobs pass `window`/`now`
    to dump the histogram of a trailing window (the merge of its
    overlapping buckets). Output: (group…, key, count, lower, upper,
    estimate)."""
    from p2pddsketch_spark.sketches.ddsketch import DDSketch
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch

    def rows(sk, fn, rows_seen):
        if isinstance(sk, WindowedDDSketch):
            merged, _, _ = sk.window_sketch(window, now)
            sk = merged if merged is not None else sk._mk()
        elif isinstance(sk, DDSketch):
            if window is not None:
                raise UsageError(
                    "windowed histograms need wdds blobs; "
                    f"{sketch_name!r} is a plain full-stream DDSketch")
        else:
            raise UsageError(
                f"sketch {sketch_name!r} ({type(sk).__name__}) has no "
                "log-γ bin table (histogram needs dds or wdds blobs)")
        for b in sk.to_bins_table():
            yield b["key"], b["count"], b["lower"], b["upper"], b["estimate"]

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       None, "key long, count long, lower double, "
                       "upper double, estimate double", rows, ["key"])


def rollup_topk(spark: SparkSession, state_dir: str,
                sketch_name: str = "spacesaving", m: int = 10,
                version: int | None = None,
                _versions: list | None = None) -> DataFrame:
    """Per-group heavy hitters straight from stored SpaceSaving blobs
    (any sketch exposing `.top(m)`): "which token ids dominate each
    source, as of the committed warehouse state" — answered in
    O(groups · k) with zero input re-scan. Each output row is
    (group…, rank, item, count_est, count_err); SpaceSaving only ever
    overestimates, so the true count lies in
    [count_est - count_err, count_est]. A group whose sketch ingested
    nothing emits no rows (top-0 of an empty stream), unlike the
    quantile path's NULL-estimate row: an absent ranking is the honest
    answer, a NULL rank-1 item is not. Ordering (count desc, item asc)
    is the sketch's own deterministic tie-break."""
    def rows(sk, fn, rows_seen):
        for rank, (item, cnt, err) in enumerate(fn(m), start=1):
            yield rank, item, cnt, err

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "top", "rank int, item long, count_est long, "
                       "count_err long", rows, ["rank"])


def rollup_window_topk(spark: SparkSession, state_dir: str,
                       windows: list[int], sketch_name: str = "wss",
                       m: int = 10, now: int | None = None,
                       version: int | None = None,
                       _versions: list | None = None) -> DataFrame:
    """Trailing-window heavy hitters from stored WindowedSpaceSaving
    blobs (`sketches/wss.py`): "which ids dominated each group in the
    last hour / day, as of the committed state" — every window ranked
    from ONE stored sketch per group, zero input re-scan. True count of
    a listed item lies in [count_est - count_err, count_est] over the
    covered rows, and every item with windowed count > n_covered/k is
    listed (m >= k). Coverage is bucket-granular: `covered_from`/
    `covered_to` report the exact ts range ranked, equal to the
    requested window iff bucket-aligned (same contract as
    `rollup_window_quantiles`). Window units / `now` semantics match
    `rollup_window_cardinality`; a group with no bucket in the window
    emits no rows (the honest empty ranking, as in `rollup_topk`).
    Output: (group…, window, rank, item, count_est, count_err,
    n_covered, covered_from, covered_to)."""
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        for w in wins:
            top, n_cov, lo, hi = fn(m, w, now=now)
            for rank, (item, cnt, err) in enumerate(top, start=1):
                yield w, rank, item, cnt, err, n_cov, lo, hi

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "window_top", "window long, rank int, item long, "
                       "count_est long, count_err long, n_covered long, "
                       "covered_from long, covered_to long", rows,
                       ["window", "rank"])


def rollup_window_cardinality(spark: SparkSession, state_dir: str,
                              windows: list[int], sketch_name: str = "shll",
                              now: int | None = None,
                              version: int | None = None,
                              _versions: list | None = None) -> DataFrame:
    """Trailing-window distinct counts straight from stored
    SlidingHyperLogLog blobs: "how many distinct ids did each group see
    in the last hour / day / week, as of the committed state" — every
    window answered from ONE stored sketch per group, zero input
    re-scan (`sketches/sliding_hll.py`; the windowed registers are
    byte-identical to a fresh HLL over just the window, so estimates
    carry plain HLL++ accuracy).

    Windows are in the ingested timestamp column's native units (epoch
    microseconds for Spark timestamp columns). `now` anchors the
    windows; None uses each group's own newest-seen timestamp, which
    compares activity-relative windows — pass an explicit warehouse
    clock for cross-group comparability. Output: (group…, window,
    estimate, rows_seen)."""
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        for w in wins:
            est = np.nan if sk.n_pairs == 0 else float(fn(w, now=now))
            yield w, est, rows_seen

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "distinct_in_last", "window long, estimate double, "
                       "rows_seen long", rows, ["window"])


def rollup_window_rows(spark: SparkSession, state_dir: str,
                       windows: list[int], sketch_name: str = "eh",
                       now: int | None = None,
                       version: int | None = None,
                       _versions: list | None = None) -> DataFrame:
    """Trailing-window ROW counts from stored ExpHistogram blobs
    (`sketches/eh.py`): per-group ingest-rate monitoring — "how many
    events landed in each group in the last hour / day" — answered from
    one stored bucket table per group with the per-query hard error
    receipt (|estimate - truth| <= err_bound, any arrival order).
    Window units / `now` semantics match `rollup_window_cardinality`.
    Output: (group…, window, estimate, err_bound)."""
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        for w in wins:
            est, err = ((np.nan, np.nan) if sk.n_buckets == 0
                        else fn(w, now=now))
            yield w, float(est), float(err)

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "count_last", "window long, estimate double, "
                       "err_bound double", rows, ["window"])


def rollup_window_counts(spark: SparkSession, state_dir: str,
                         keys: list[int], windows: list[int],
                         sketch_name: str = "ecm",
                         now: int | None = None,
                         version: int | None = None,
                         _versions: list | None = None) -> DataFrame:
    """Trailing-window frequency estimates for specific keys from stored
    ECM-sketch blobs (`sketches/ecm.py`): "how often did id x occur in
    each group in the last hour / day", every (key, window) answered
    from one stored sketch per group, zero input re-scan. Output rows
    carry the per-query exponential-histogram error receipt:
    est + err_bound is a HARD upper bound on the true windowed count,
    and downward excursions are bounded by the count-min collision mass.
    Window units / `now` semantics match `rollup_window_cardinality`.
    Output: (group…, item, window, estimate, err_bound)."""
    kq = np.asarray(sorted({int(k) for k in keys}), dtype=np.int64)
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        for w in wins:
            if sk.n_buckets == 0:
                est = err = np.full(kq.size, np.nan)
            else:
                est, err = fn(kq, w, now=now)
            for k, e, b in zip(kq, est, err):
                yield int(k), w, float(e), float(b)

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "estimate_last", "item long, window long, "
                       "estimate double, err_bound double", rows,
                       ["item", "window"])


def rollup_window_quantiles(spark: SparkSession, state_dir: str,
                            qs: list[float], windows: list[int],
                            sketch_name: str = "wdds",
                            now: int | None = None,
                            version: int | None = None,
                            _versions: list | None = None) -> DataFrame:
    """Trailing-window QUANTILES from stored windowed-DDSketch blobs
    (`sketches/wdds.py`): "p99 latency in the last hour, per group" —
    the centerpiece metric of the library, answered from one stored
    blob per group with zero input re-scan. Estimates carry DDSketch's
    relative-error guarantee α over the covered rows; coverage is
    bucket-granular, and each row reports the exact covered ts range
    `[covered_from, covered_to)` plus the covered row count so a caller
    can see both edge slack and retention truncation. Window units /
    `now` semantics match `rollup_window_cardinality`.
    Output: (group…, window, q, estimate, n_covered, covered_from,
    covered_to)."""
    qv = [float(q) for q in qs]
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        for w in wins:
            ests, n_cov, lo, hi = fn(qv, window=w, now=now)
            for q, est in zip(qv, ests):
                yield w, q, float(est), int(n_cov), int(lo), int(hi)

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "window_quantiles", "window long, q double, "
                       "estimate double, n_covered long, covered_from long, "
                       "covered_to long", rows, ["window", "q"])


def rollup_window_drift(spark: SparkSession, state_dir: str,
                        windows: list[int], sketch_name: str = "wdds",
                        qs: list[float] | None = None,
                        now: int | None = None,
                        version: int | None = None,
                        _versions: list | None = None) -> DataFrame:
    """Adjacent-window comparison from ONE stored blob per group: the
    alerting primitive "did the last window move vs the one before it"
    — p99 shift (wdds) or ingest-rate shift (eh) — with zero input
    re-scan and no second warehouse version needed (unlike
    `rollup_drift`, which compares commits, this compares two windows
    of the same sliding state).

    For each window w the current window is (now - w, now] (`now` None
    = each group's newest-seen timestamp) and the previous window tiles
    back-to-back. wdds indexes state by time bucket, so the previous
    window is read directly — anchored at the CURRENT coverage's lower
    edge, so the two bucket-granular ranges are exactly disjoint (a
    mid-bucket anchor would otherwise put the straddling bucket in
    both windows); EH only answers
    suffix counts (ts > cutoff), so the previous window is the
    DIFFERENCE of two suffix counts and its hard receipt is the SUM of
    their bounds. shll is refused: interval distinct is not derivable
    from a suffix skyline (suffix-count subtraction would subtract ids
    seen in both windows) — use `rollup_window_cardinality` with
    explicit `now` anchors for cumulative comparisons instead.
    Output: (group…, window, metric, current, previous, delta, ratio,
    cur_err, prev_err) where metric is 'q<q>' / 'rows'; err columns
    carry EH's hard receipts and are SQL NULL for wdds (its guarantee
    is the relative α contract). ratio is SQL NULL when previous == 0."""
    wins = [int(w) for w in windows]
    qv = [float(q) for q in (qs or [0.5, 0.99])]

    def rows(sk, fn, rows_seen):
        t_ref = getattr(sk, "t_max", None)
        for w in wins:
            ref = int(t_ref) if now is None else int(now)
            if hasattr(sk, "window_quantiles"):
                cur, n_c, lo_c, _ = sk.window_quantiles(qv, window=w, now=ref)
                # an empty current window can't tile at its coverage edge
                # (lo_c is the 0 sentinel) — anchor the previous window at
                # ref - w so a group that went SILENT still reports
                # (previous=real, current=NaN) instead of NaN/NaN (same
                # guard as window_topk_drift)
                prv, _, _, _ = sk.window_quantiles(
                    qv, window=w, now=lo_c - 1 if n_c else ref - w)
                pairs = [(f"q{q:g}", float(c), float(p), np.nan, np.nan)
                         for q, c, p in zip(qv, cur, prv)]
            elif hasattr(sk, "count_last"):
                c, ce = sk.count_last(w, now=ref)
                # previous window (ref-2w, ref-w] = suffix difference;
                # hard bounds add
                c2, e2 = sk.count(ref - 2 * w)
                p, pe = c2 - c, e2 + ce
                pairs = [("rows", float(c), float(p), float(ce), float(pe))]
            else:
                raise UsageError(
                    f"sketch {sketch_name!r} ({type(sk).__name__}) cannot "
                    "answer adjacent-window drift: interval queries need "
                    "time-indexed (wdds) or subtractable (eh) state")
            for metric, c, p, ce, pe in pairs:
                ratio = c / p if p == p and p != 0.0 else float("nan")
                yield w, metric, c, p, c - p, ratio, ce, pe

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       None, "window long, metric string, current double, "
                       "previous double, delta double, ratio double, "
                       "cur_err double, prev_err double", rows,
                       ["window", "metric"])


def rollup_window_topk_drift(spark: SparkSession, state_dir: str,
                             windows: list[int], sketch_name: str = "wss",
                             m: int = 10, now: int | None = None,
                             version: int | None = None,
                             _versions: list | None = None) -> DataFrame:
    """Heavy-hitter churn between ADJACENT trailing windows from ONE
    stored WindowedSpaceSaving blob per group: which items entered /
    left / moved in each group's top-m vs the window before — the
    set-churn complement of `rollup_window_drift`'s metric deltas,
    with zero input re-scan and no second commit needed (unlike
    `rollup_topk_drift`, which compares versions, this compares two
    windows of the same sliding state).

    The current window is (now - w, now] (`now` None = each group's
    newest-seen timestamp); the previous window is anchored at the
    CURRENT coverage's lower edge, so the two bucket-granular ranges
    are exactly disjoint (`prev_covered_to == cur_covered_from`, same
    tiling contract as `rollup_window_drift`'s wdds path). Output:
    (group…, window, item, rank_prev, rank_cur, count_prev, count_cur,
    delta, status, prev_covered_from, cur_covered_from,
    cur_covered_to) with status 'entered' / 'left' / 'moved' as in
    `rollup_topk_drift`; counts carry each window's SpaceSaving
    overestimate (exact at k ≥ universe). A group with no previous
    coverage reports every current item as 'entered'; a group whose
    CURRENT window is empty anchors the previous window at `now - w`
    instead of the (nonexistent) coverage edge and reports its former
    top-m as 'left' — going silent is churn, not absence of rows."""
    wins = [int(w) for w in windows]

    def rows(sk, fn, rows_seen):
        t_ref = getattr(sk, "t_max", None)
        for w in wins:
            ref = int(t_ref) if now is None else int(now)
            cur, _, lo_c, hi_c = fn(m, w, now=ref)
            # an empty current window can't tile at its coverage edge —
            # anchor the previous window at ref - w so a group that went
            # silent still reports its former top-m as 'left' (the
            # loudest churn signal must not vanish into zero rows)
            prv, _, lo_p, _ = fn(m, w, now=lo_c - 1 if cur else ref - w)
            cur_d = {item: (rk, cnt)
                     for rk, (item, cnt, _) in enumerate(cur, start=1)}
            prv_d = {item: (rk, cnt)
                     for rk, (item, cnt, _) in enumerate(prv, start=1)}
            for item in sorted(cur_d.keys() | prv_d.keys()):
                pr, pc = prv_d.get(item, (None, None))
                cr, cc = cur_d.get(item, (None, None))
                status = ("entered" if pr is None
                          else "left" if cr is None else "moved")
                delta = None if pc is None or cc is None else cc - pc
                yield (w, item, pr, cr, pc, cc, delta, status, lo_p, lo_c,
                       hi_c)

    return _blob_query(spark, state_dir, sketch_name, version, _versions,
                       "window_top", "window long, item long, rank_prev int, "
                       "rank_cur int, count_prev long, count_cur long, "
                       "delta long, status string, prev_covered_from long, "
                       "cur_covered_from long, cur_covered_to long", rows,
                       ["window", F.coalesce(F.col("rank_cur"), F.lit(1 << 30)),
                        F.coalesce(F.col("rank_prev"), F.lit(1 << 30)),
                        "item"])


def rollup_topk_drift(spark: SparkSession, state_dir: str,
                      sketch_name: str = "spacesaving", m: int = 10,
                      v_from: int | None = None,
                      v_to: int | None = None,
                      _versions: list | None = None) -> DataFrame:
    """Heavy-hitter churn between two committed versions of one rollup
    state: which items ENTERED each group's top-m, which LEFT, and how
    the survivors' counts moved — all from stored SpaceSaving blobs,
    O(groups · k), zero input re-scan. The set-churn complement of
    `rollup_drift`'s quantile deltas: a p99 that held steady while the
    top token ids turned over is exactly the regression quantile drift
    cannot see.

    Output: (group…, item, rank_from, rank_to, count_from, count_to,
    delta, status) where status is 'entered' (in the to-side top-m
    only), 'left' (from-side only), or 'moved' (both sides; delta =
    count_to - count_from, which for a monotone ingest-only stream is
    the item's count gained between the versions). Counts carry each
    side's SpaceSaving overestimate; at k ≥ universe they are exact.
    Defaults compare the previous committed version to the latest,
    resolved by `resolve_drift_versions`."""
    versions = (_versions if _versions is not None
                else rollup_versions(spark, state_dir))
    v_from, v_to = resolve_drift_versions(versions, v_from, v_to)
    gcols = tuple(dict(versions)[v_to]["group_cols"])

    def side(version: int, suffix: str) -> DataFrame:
        df = rollup_topk(spark, state_dir, sketch_name, m=m,
                         version=version, _versions=versions)
        return (df.drop("count_err")
                .withColumnRenamed("rank", f"rank_{suffix}")
                .withColumnRenamed("count_est", f"count_{suffix}"))

    a = side(v_from, "from")
    b = side(v_to, "to")
    keys = list(gcols) + ["item"]
    cond = None
    for k in keys:
        c = a[k].eqNullSafe(b[k])
        cond = c if cond is None else cond & c
    joined = a.join(b, cond, "full_outer")
    out_keys = [F.coalesce(a[k], b[k]).alias(k) for k in keys]
    status = (F.when(a["rank_from"].isNull(), F.lit("entered"))
              .when(b["rank_to"].isNull(), F.lit("left"))
              .otherwise(F.lit("moved")))
    return (joined.select(
        *out_keys, a["rank_from"], b["rank_to"],
        a["count_from"], b["count_to"],
        (b["count_to"] - a["count_from"]).alias("delta"),
        status.alias("status"))
        .orderBy(*gcols, F.coalesce(F.col("rank_to"), F.lit(1 << 30)),
                 "rank_from"))


def resolve_drift_versions(versions: list[tuple[int, dict]],
                           v_from: int | None = None,
                           v_to: int | None = None) -> tuple[int, int]:
    """Resolve a drift comparison's (v_from, v_to) against one
    `rollup_versions` listing: `v_to` defaults to the latest committed
    version, `v_from` to the newest version strictly before it. Public
    so a caller that also needs the manifests (the CLI prints ingest
    deltas between the two) lists versions ONCE and resolves from that
    single snapshot — resolving twice can straddle a concurrent commit
    and report metadata for a different pair than the drift rows."""
    if not versions:
        raise UsageError("no committed rollup state to drift against")
    committed = [v for v, _ in versions]
    if v_to is None:
        v_to = committed[-1]
    elif v_to not in committed:
        raise UsageError(f"no committed version {v_to} "
                         f"(committed: {committed})")
    if v_from is None:
        earlier = [v for v in committed if v < v_to]
        if not earlier:
            raise UsageError(
                f"version {v_to} has no earlier committed version to "
                "drift against; pass v_from explicitly")
        v_from = earlier[-1]
    elif v_from not in committed:
        raise UsageError(f"no committed version {v_from} "
                         f"(committed: {committed})")
    return v_from, v_to


def rollup_drift(spark: SparkSession, state_dir: str, sketch_name: str = "dds",
                 qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                 v_from: int | None = None,
                 v_to: int | None = None,
                 _versions: list[tuple[int, dict]] | None = None) -> DataFrame:
    """Per-group distribution drift between two committed versions of
    one rollup state, answered ENTIRELY from the stored blobs — the
    monitoring query the versioned warehouse makes O(groups) instead of
    O(data): "after yesterday's ingest, which sources' token-length
    p99 moved, and by how much?".

    Defaults compare the previous committed version (`v_from`) to the
    latest (`v_to`). With quantiles (any sketch exposing `.quantile`)
    each output row is (group…, q, est_from, est_to, delta); with
    `qs=()` the sketch's `.cardinality` drives the same shape without
    the q column (HLL/theta distinct-count growth). Groups present in
    only one version surface with NULL on the absent side — new and
    retired groups ARE drift. `n_from`/`n_to` carry each side's
    ingested-row count so a delta can be weighted by volume.

    Both versions belong to one state, so the update path has already
    pinned their spec signature and group columns equal — the estimates
    are comparable by construction. Cost: two |groups|-row mapInArrow
    decodes and one tiny join; no input re-scan, so the query costs the
    same at sf0.001 and at 10^12 rows. The reference can only answer
    this by re-running its whole simulator on both datasets
    (/root/reference/main.cpp:214-396 keeps no state between runs)."""
    versions = (_versions if _versions is not None
                else rollup_versions(spark, state_dir))
    v_from, v_to = resolve_drift_versions(versions, v_from, v_to)
    gcols = tuple(dict(versions)[v_to]["group_cols"])

    def estimates(version: int, suffix: str) -> DataFrame:
        if qs:
            df = rollup_quantiles(spark, state_dir, sketch_name, list(qs),
                                  version=version, _versions=versions)
        else:
            df = rollup_cardinality(spark, state_dir, sketch_name,
                                    version=version, _versions=versions)
            df = df.withColumnRenamed("rows_seen", "n")
        return (df.withColumnRenamed("estimate", f"est_{suffix}")
                .withColumnRenamed("n", f"n_{suffix}"))

    a = estimates(v_from, "from")
    b = estimates(v_to, "to")
    keys = list(gcols) + (["q"] if qs else [])
    # full outer, NULL-safe on every key: a group (or a NULL-valued
    # group key) on one side only must still emit its drift row
    cond = None
    for k in keys:
        c = a[k].eqNullSafe(b[k])
        cond = c if cond is None else cond & c
    joined = a.join(b, cond, "full_outer")
    out_keys = [F.coalesce(a[k], b[k]).alias(k) for k in keys]
    return (joined.select(
        *out_keys,
        a["est_from"], b["est_to"],
        (b["est_to"] - a["est_from"]).alias("delta"),
        a["n_from"], b["n_to"])
        .orderBy(*keys))
