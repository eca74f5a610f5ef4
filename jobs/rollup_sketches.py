"""Incremental sketch-rollup maintenance job — the persisted warehouse.

Run via spark-submit (north_rule):

  spark-submit --py-files sketchlib.zip jobs/rollup_sketches.py update \\
      --input /data/sequences --state /warehouse/rollup \\
      --group-cols source --value-col n_tok --tokens-col tokens
  spark-submit --py-files sketchlib.zip jobs/rollup_sketches.py query \\
      --state /warehouse/rollup --quantiles 0.5,0.95,0.99,0.999
  spark-submit --py-files sketchlib.zip jobs/rollup_sketches.py \\
      cardinality --state /warehouse/rollup
  spark-submit --py-files sketchlib.zip jobs/rollup_sketches.py \\
      versions --state /warehouse/rollup

`update` sketches ONLY the parquet files not yet in the committed
state's manifest and merges them with the stored per-group blobs
(associative merge ⇒ identical to a full rebuild); `stream` does the
same continuously (one availableNow Structured-Streaming pass per
invocation, replayed micro-batches fenced by manifest file lineage);
`query` / `cardinality` / `topk` / `histogram` / `drift` /
`topk-drift` answer from the stored blobs with zero input re-scan
(`topk` ranks per-group heavy hitters from SpaceSaving blobs;
`histogram` dumps the log-γ bin tables — DDS_PrintCSV, warehouse
edition; `drift` and `topk-drift` compare two committed versions per
group — the monitoring queries versioning exists for);
`window-cardinality` / `window-count` / `window-rows` /
`window-quantiles` / `window-topk` / `window-drift` /
`window-topk-drift` answer trailing-event-time-window questions from
the sliding families `--sketches shll,ecm,eh,wdds,wss` + `--ts-col`;
`--version` time-travels any point query to an older committed
version; `overlap` answers pairwise group set-overlap (|A∩B|, |A∪B|,
Jaccard) from stored theta blobs; `filter-new` dedups an arriving
batch against the Bloom state of everything ever ingested
(`--hash-of` derives the key, survivors land as parquet);
`stream-dedup` is the dedup-ingest firehose — drop dir in, deduped
corpus + updated Bloom state out, one exactly-once commit per
micro-batch, refusing on a saturating filter (--max-fill);
`merge` fans N independently-built states into a fresh one
(blob tables only); `restore` rolls back to a committed version by
committing it forward as the new tip (append-only history; the next
`update` re-folds the undone files); `fsck` audits the
commit-protocol invariants read-only.
Each subcommand prints one JSON line. Errors print a {"error": ...}
JSON line and exit 1 (same contract as jobs/optimize_table.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _specs(value_col: str, tokens_col: str | None, alpha: float, hll_p: int,
           names: str | None = None, ss_k: int = 64,
           ts_col: str | None = None, eh_k: int = 32,
           ecm_width: int = 2048, wdds_bucket: int = 3_600_000_000,
           wdds_max_buckets: int = 1024, wss_bucket: int = 3_600_000_000,
           wss_max_buckets: int = 1024):
    """Build the sketch-family specs for `--sketches`. Scalar families
    ingest `value_col`; token families ingest the `tokens_col` arrays
    (and require it — EXPLICITLY requested token families without a
    tokens column error; only the implicit default's hll is silently
    skipped); sliding-window families (shll/ecm key on `value_col`, eh
    counts rows) additionally require `ts_col` for event time.
    names=None means the default set (dds, plus hll when a tokens
    column exists)."""
    from p2pddsketch_spark.errors import UsageError
    from p2pddsketch_spark.operators.harness import (SketchSpec,
                                                     array_extractor,
                                                     pair_extractor,
                                                     scalar_extractor,
                                                     vpair_extractor)
    from p2pddsketch_spark.sketches.bloom import BloomFilter
    from p2pddsketch_spark.sketches.cms import CountMinSketch
    from p2pddsketch_spark.sketches.ddsketch import DDSketch
    from p2pddsketch_spark.sketches.hll import HyperLogLog
    from p2pddsketch_spark.sketches.kll import KLLSketch
    from p2pddsketch_spark.sketches.moments import MomentSketch
    from p2pddsketch_spark.sketches.req import ReqSketch
    from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
    from p2pddsketch_spark.sketches.tdigest import TDigest
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    scalar = {
        "dds": lambda: DDSketch(alpha=alpha, bin_limit=1 << 22),
        "kll": lambda: KLLSketch(k=256),
        "tdigest": lambda: TDigest(delta=200.0),
        "req": lambda: ReqSketch(k=32),
        "moments": lambda: MomentSketch(),
    }
    tokens = {
        "hll": lambda: HyperLogLog(p=hll_p),
        "theta": lambda: ThetaSketch(k=4096),
        "cms": lambda: CountMinSketch(depth=5, width=1 << 16),
        "bloom": lambda: BloomFilter(m_bits=1 << 21, k=5),
        "spacesaving": lambda: SpaceSaving(k=ss_k),
    }
    from p2pddsketch_spark.sketches.ecm import EcmSketch
    from p2pddsketch_spark.sketches.eh import ExpHistogram
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
    from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving
    sliding = {
        "shll": lambda: SlidingHyperLogLog(p=hll_p),
        "ecm": lambda: EcmSketch(depth=4, width=ecm_width, k=eh_k),
        "eh": lambda: ExpHistogram(k=eh_k),
        "wdds": lambda: WindowedDDSketch(alpha=alpha,
                                         bucket_width=wdds_bucket,
                                         max_buckets=wdds_max_buckets),
        "wss": lambda: WindowedSpaceSaving(k=ss_k,
                                           bucket_width=wss_bucket,
                                           max_buckets=wss_max_buckets),
    }
    explicit = names is not None
    specs, seen = [], set()
    for n in [x for x in (names or "dds,hll").split(",") if x]:
        if n in seen:
            # two same-named specs would fold together in the merge
            # tree and silently double every count
            raise UsageError(f"duplicate sketch family {n!r} in --sketches")
        seen.add(n)
        if n in scalar:
            specs.append(SketchSpec(n, scalar[n], scalar_extractor(value_col)))
        elif n in tokens:
            if not tokens_col:
                if not explicit and n == "hll":
                    continue  # implicit default: hll is opt-in via --tokens-col
                raise UsageError(f"sketch family {n!r} ingests token "
                                 "arrays: pass --tokens-col")
            specs.append(SketchSpec(n, tokens[n], array_extractor(tokens_col)))
        elif n in sliding:
            if not ts_col:
                raise UsageError(f"sketch family {n!r} is sliding-window: "
                                 "pass --ts-col")
            if n == "eh":
                # row counts over time: only the timestamp column matters
                specs.append(SketchSpec(n, sliding[n],
                                        scalar_extractor(ts_col)))
            elif n == "wdds":
                # quantile payload keeps full float64 precision
                specs.append(SketchSpec(n, sliding[n],
                                        vpair_extractor(value_col, ts_col)))
            elif n == "wss" and tokens_col:
                # heavy hitters over token ids when a tokens column
                # exists; falls through to (value_col, ts) identity
                # pairs otherwise (heavy users, heavy keys, ...)
                from p2pddsketch_spark.operators.harness import \
                    apair_extractor
                specs.append(SketchSpec(n, sliding[n],
                                        apair_extractor(tokens_col, ts_col)))
            else:
                specs.append(SketchSpec(n, sliding[n],
                                        pair_extractor(value_col, ts_col)))
        else:
            raise UsageError(
                f"unknown sketch family {n!r} (scalar: {sorted(scalar)}; "
                f"token: {sorted(tokens)}; sliding: {sorted(sliding)})")
    if not specs:
        raise UsageError("--sketches selected no families")
    return specs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    # flags shared by the two maintenance commands (update / stream)
    build = argparse.ArgumentParser(add_help=False)
    build.add_argument("--input", required=True)
    build.add_argument("--state", required=True)
    build.add_argument("--group-cols", default="",
                       help="comma-separated grouping columns (may be empty)")
    build.add_argument("--value-col", default="n_tok")
    build.add_argument("--tokens-col", default=None)
    build.add_argument("--alpha", type=float, default=0.01)
    build.add_argument("--hll-p", type=int, default=14)
    build.add_argument("--salt-buckets", type=int, default=8)
    build.add_argument("--ss-k", type=int, default=64,
                       help="SpaceSaving capacity (spacesaving family)")
    build.add_argument("--ts-col", default=None,
                       help="event-time column (required by the sliding "
                       "families shll/ecm/eh)")
    build.add_argument("--eh-k", type=int, default=32,
                       help="exponential-histogram k (eh/ecm families)")
    build.add_argument("--ecm-width", type=int, default=2048,
                       help="ECM count-min width (ecm family)")
    build.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"],
                       help="native unit of --ts-col (scales --wdds-bucket "
                       "suffixes; Spark timestamp columns are us)")
    build.add_argument("--wdds-bucket", default="1h",
                       help="windowed-DDSketch time-bucket width (int in "
                       "native units, or s/m/h/d suffix scaled by "
                       "--ts-unit)")
    build.add_argument("--wdds-max-buckets", type=int, default=1024,
                       help="windowed-DDSketch live-bucket retention cap "
                       "(older buckets fold into the full-history tail)")
    build.add_argument("--wss-bucket", default="1h",
                       help="windowed-SpaceSaving time-bucket width (int "
                       "in native units, or s/m/h/d suffix scaled by "
                       "--ts-unit)")
    build.add_argument("--wss-max-buckets", type=int, default=1024,
                       help="windowed-SpaceSaving live-bucket retention "
                       "cap (older buckets fold into the full-history "
                       "tail)")
    build.add_argument("--sketches", default=None,
                       help="comma-separated sketch families to build "
                       "(default: dds, plus hll when --tokens-col is "
                       "given)")

    up = sub.add_parser("update", parents=[build],
                        help="advance the rollup by new files")
    up.add_argument("--files-per-task", type=int, default=4)

    st = sub.add_parser("stream", parents=[build],
                        help="advance the rollup continuously "
                        "(availableNow streaming pass over a drop dir)")
    st.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (the discovery ledger)")
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    mg = sub.add_parser("merge", help="fold N independently-built "
                        "warehouse states into a fresh one (multi-"
                        "cluster fan-in; only blob tables move, no "
                        "input re-scan)")
    mg.add_argument("--sources", required=True,
                    help="comma-separated source state dirs (>= 2)")
    mg.add_argument("--dest", required=True,
                    help="destination state dir (must have no "
                    "committed state)")

    q = sub.add_parser("query", help="quantiles from the stored blobs")
    q.add_argument("--state", required=True)
    q.add_argument("--sketch", default="dds")
    q.add_argument("--quantiles", default="0.5,0.95,0.99,0.999")
    q.add_argument("--version", type=int, default=None,
                   help="committed version to query (default: latest)")

    card = sub.add_parser("cardinality", help="distinct counts from blobs")
    card.add_argument("--state", required=True)
    card.add_argument("--sketch", default="hll")
    card.add_argument("--version", type=int, default=None,
                      help="committed version to query (default: latest)")

    sd = sub.add_parser("stream-dedup", help="streaming dedup ingest: "
                        "drain a drop dir, drop ever-seen keys, append "
                        "survivors, fold their keys into the Bloom state")
    sd.add_argument("--input", required=True)
    sd.add_argument("--state", required=True)
    sd.add_argument("--output", required=True,
                    help="deduped-corpus dir (survivors append here)")
    sd.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (the discovery ledger)")
    sd.add_argument("--key-col", required=True,
                    help="int64 key column to dedup on")
    sd.add_argument("--hash-of", default=None,
                    help="derive --key-col as xxhash64 of this column")
    sd.add_argument("--m-bits", type=int, default=1 << 22)
    sd.add_argument("--max-fill", type=float, default=0.5,
                    help="refuse to ingest once the Bloom state's bit "
                    "fill exceeds this ratio (saturation = silent data "
                    "loss; re-shard into a larger --m-bits state)")
    sd.add_argument("--salt-buckets", type=int, default=8)
    sd.add_argument("--max-files-per-trigger", type=int, default=None)

    fn = sub.add_parser("filter-new", help="incremental dedup: keep only "
                        "input rows whose key the warehouse's bloom state "
                        "has never ingested")
    fn.add_argument("--input", required=True,
                    help="parquet file/dir of the NEW batch")
    fn.add_argument("--state", required=True)
    fn.add_argument("--sketch", default="bloom")
    fn.add_argument("--key-col", required=True,
                    help="int64 key column matching the blobs' key space")
    fn.add_argument("--hash-of", default=None,
                    help="derive --key-col as xxhash64 of this column "
                    "first (e.g. a text column)")
    fn.add_argument("--keep", choices=("new", "seen"), default="new")
    fn.add_argument("--version", type=int, default=None,
                    help="committed version to probe (default: latest)")
    fn.add_argument("--output", required=True,
                    help="parquet dir for the surviving rows")

    ov = sub.add_parser("overlap", help="pairwise group overlap "
                        "(|A∩B|, |A∪B|, Jaccard) from stored theta blobs")
    ov.add_argument("--state", required=True)
    ov.add_argument("--sketch", default="theta")
    ov.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    tk = sub.add_parser("topk", help="per-group heavy hitters from "
                        "stored SpaceSaving blobs")
    tk.add_argument("--state", required=True)
    tk.add_argument("--sketch", default="spacesaving")
    tk.add_argument("--m", type=int, default=10,
                    help="ranks to emit per group")
    tk.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    td = sub.add_parser("topk-drift", help="heavy-hitter churn between "
                        "two committed versions (entered/left/moved)")
    td.add_argument("--state", required=True)
    td.add_argument("--sketch", default="spacesaving")
    td.add_argument("--m", type=int, default=10)
    td.add_argument("--from", dest="v_from", type=int, default=None,
                    help="baseline version (default: previous committed)")
    td.add_argument("--to", dest="v_to", type=int, default=None,
                    help="target version (default: latest committed)")

    wt = sub.add_parser("window-topk", help="trailing-window heavy "
                        "hitters from stored windowed-SpaceSaving blobs")
    wt.add_argument("--state", required=True)
    wt.add_argument("--sketch", default="wss")
    wt.add_argument("--windows", required=True,
                    help="comma-separated trailing windows: plain ints "
                    "are the ts column's native units; s/m/h/d suffixes "
                    "scale via --ts-unit (e.g. '15m,1h,1d')")
    wt.add_argument("--m", type=int, default=10,
                    help="items to rank per group and window")
    wt.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"],
                    help="native unit of the ingested ts column "
                    "(Spark timestamp columns are us)")
    wt.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    wt.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    wtd = sub.add_parser("window-topk-drift", help="heavy-hitter churn "
                         "between adjacent trailing windows (one wss "
                         "blob, no second commit)")
    wtd.add_argument("--state", required=True)
    wtd.add_argument("--sketch", default="wss")
    wtd.add_argument("--windows", required=True,
                     help="comma-separated trailing windows: plain ints "
                     "are the ts column's native units; s/m/h/d "
                     "suffixes scale via --ts-unit")
    wtd.add_argument("--m", type=int, default=10,
                     help="items to rank per group and window")
    wtd.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"],
                     help="native unit of the ingested ts column "
                     "(Spark timestamp columns are us)")
    wtd.add_argument("--now", type=int, default=None,
                     help="current-window anchor in native units "
                     "(default: each group's newest-seen timestamp)")
    wtd.add_argument("--version", type=int, default=None,
                     help="committed version to query (default: latest)")

    wc = sub.add_parser("window-cardinality", help="trailing-window "
                        "distinct counts from stored SlidingHLL blobs")
    wc.add_argument("--state", required=True)
    wc.add_argument("--sketch", default="shll")
    wc.add_argument("--windows", required=True,
                    help="comma-separated trailing windows: plain ints "
                    "are the ts column's native units; s/m/h/d suffixes "
                    "scale via --ts-unit (e.g. '15m,1h,1d')")
    wc.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"],
                    help="native unit of the ingested ts column "
                    "(Spark timestamp columns are us)")
    wc.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    wc.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    wr = sub.add_parser("window-rows", help="trailing-window row counts "
                        "from stored ExpHistogram blobs (ingest rate)")
    wr.add_argument("--state", required=True)
    wr.add_argument("--sketch", default="eh")
    wr.add_argument("--windows", required=True,
                    help="comma-separated trailing windows (same parsing "
                    "as window-cardinality)")
    wr.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"])
    wr.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    wr.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    wk = sub.add_parser("window-count", help="trailing-window frequency "
                        "estimates for specific keys from ECM blobs")
    wk.add_argument("--state", required=True)
    wk.add_argument("--sketch", default="ecm")
    wk.add_argument("--keys", required=True,
                    help="comma-separated int64 keys to estimate")
    wk.add_argument("--windows", required=True,
                    help="comma-separated trailing windows (same parsing "
                    "as window-cardinality)")
    wk.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"])
    wk.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    wk.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    hg = sub.add_parser("histogram", help="per-group log-gamma bin "
                        "tables from stored DDSketch/wdds blobs "
                        "(DDS_PrintCSV, warehouse edition)")
    hg.add_argument("--state", required=True)
    hg.add_argument("--sketch", default="dds")
    hg.add_argument("--window", default=None,
                    help="optional trailing window (wdds blobs only; "
                    "same parsing as window-cardinality)")
    hg.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"])
    hg.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    hg.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")
    hg.add_argument("--output", default=None,
                    help="write the bins table as parquet here instead "
                    "of printing JSON (histograms can be wide)")
    hg.add_argument("--format", default="parquet",
                    choices=["parquet", "csv"],
                    help="csv emits the reference's DDS_PrintCSV layout "
                    "(ddsketch.cc:927-947): one '<group>.csv' per group "
                    "under --output, header 'key, count, max, min, "
                    "length, ' at fixed precision 8")

    wq = sub.add_parser("window-quantiles", help="trailing-window "
                        "quantiles from stored windowed-DDSketch blobs")
    wq.add_argument("--state", required=True)
    wq.add_argument("--sketch", default="wdds")
    wq.add_argument("--quantiles", default="0.5,0.95,0.99")
    wq.add_argument("--windows", required=True,
                    help="comma-separated trailing windows (same parsing "
                    "as window-cardinality)")
    wq.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"])
    wq.add_argument("--now", type=int, default=None,
                    help="window anchor in native units (default: each "
                    "group's newest-seen timestamp)")
    wq.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    wd = sub.add_parser("window-drift", help="adjacent trailing-window "
                        "comparison from one stored sliding blob "
                        "(current window vs the one before it)")
    wd.add_argument("--state", required=True)
    wd.add_argument("--sketch", default="wdds",
                    help="sliding family: wdds (quantile shift) or eh "
                    "(row-rate shift via suffix-count subtraction); "
                    "shll is refused — interval distinct is not "
                    "derivable from a suffix skyline")
    wd.add_argument("--quantiles", default="0.5,0.99",
                    help="quantiles to compare (wdds family only)")
    wd.add_argument("--windows", required=True,
                    help="comma-separated trailing windows (same parsing "
                    "as window-cardinality)")
    wd.add_argument("--ts-unit", default="us", choices=["us", "ms", "s"])
    wd.add_argument("--now", type=int, default=None,
                    help="current-window anchor in native units (default: "
                    "each group's newest-seen timestamp); the previous "
                    "window always ends where the current one starts")
    wd.add_argument("--version", type=int, default=None,
                    help="committed version to query (default: latest)")

    dr = sub.add_parser("drift", help="per-group drift between two "
                        "committed versions, from blobs only")
    dr.add_argument("--state", required=True)
    dr.add_argument("--sketch", default="dds")
    dr.add_argument("--quantiles", default="0.5,0.95,0.99",
                    help="quantiles to compare; empty string switches to "
                    "cardinality drift (hll/theta)")
    dr.add_argument("--from", dest="v_from", type=int, default=None,
                    help="baseline version (default: previous committed)")
    dr.add_argument("--to", dest="v_to", type=int, default=None,
                    help="target version (default: latest committed)")

    fk = sub.add_parser("fsck", help="audit a state dir's commit-"
                        "protocol invariants (read-only)")
    fk.add_argument("--state", required=True)
    fk.add_argument("--deep", action="store_true",
                    help="also decode + re-serialize every blob on the "
                    "executors (wire-corruption check)")

    ver = sub.add_parser("versions", help="committed versions + manifests")
    ver.add_argument("--state", required=True)

    pr = sub.add_parser("prune", help="delete all but the newest versions")
    pr.add_argument("--state", required=True)
    pr.add_argument("--keep", type=int, default=2)

    rs = sub.add_parser("restore", help="roll back to a committed version "
                        "by committing it forward as the new tip")
    rs.add_argument("--state", required=True)
    rs.add_argument("--to-version", type=int, required=True)

    args = ap.parse_args(argv)

    def _windows(spec: str, unit: str) -> list[int]:
        """'15m,1h,86400' -> native-unit ints; suffixed values scale by
        the ts column's unit, plain ints pass through untouched."""
        scale = {"us": 1_000_000, "ms": 1_000, "s": 1}[unit]
        per = {"s": 1, "m": 60, "h": 3600, "d": 86400}
        out = []
        for tok in (t for t in spec.split(",") if t):
            if tok[-1] in per and tok[:-1].isdigit():
                out.append(int(tok[:-1]) * per[tok[-1]] * scale)
            elif tok.isdigit():
                out.append(int(tok))
            else:
                from p2pddsketch_spark.errors import UsageError
                # a negative window is refused here too: it would
                # silently cover nothing (ts > now + |w|) and print
                # empty/NaN rows as if the state were empty
                raise UsageError(f"bad window {tok!r} (positive int or "
                                 "s/m/h/d suffix)")
        return out

    from pyspark.sql import SparkSession
    from p2pddsketch_spark.errors import GenericError
    from p2pddsketch_spark.operators import rollup as R
    spark = (SparkSession.builder
             .config("spark.sql.shuffle.partitions", "32")
             .getOrCreate())
    from pyspark.errors import PySparkException
    try:
        if args.cmd in ("update", "stream"):
            gcols = tuple(c for c in args.group_cols.split(",") if c)
            specs = _specs(args.value_col, args.tokens_col, args.alpha,
                           args.hll_p, names=args.sketches, ss_k=args.ss_k,
                           ts_col=args.ts_col, eh_k=args.eh_k,
                           ecm_width=args.ecm_width,
                           wdds_bucket=_windows(args.wdds_bucket,
                                                args.ts_unit)[0],
                           wdds_max_buckets=args.wdds_max_buckets,
                           wss_bucket=_windows(args.wss_bucket,
                                               args.ts_unit)[0],
                           wss_max_buckets=args.wss_max_buckets)
        if args.cmd == "update":
            stats = R.rollup_update(
                spark, args.input, args.state, specs,
                group_cols=gcols, salt_buckets=args.salt_buckets,
                files_per_task=args.files_per_task)
            print(json.dumps(stats, sort_keys=True))
        elif args.cmd == "stream":
            stats = R.rollup_stream_update(
                spark, args.input, args.state, specs,
                group_cols=gcols, checkpoint_dir=args.checkpoint,
                salt_buckets=args.salt_buckets,
                max_files_per_trigger=args.max_files_per_trigger)
            print(json.dumps(stats, sort_keys=True))
        elif args.cmd == "merge":
            srcs = [d for d in args.sources.split(",") if d]
            stats = R.rollup_merge_states(spark, srcs, args.dest)
            print(json.dumps(stats, sort_keys=True))
        elif args.cmd == "query":
            qs = [float(x) for x in args.quantiles.split(",") if x]
            rows = R.rollup_quantiles(spark, args.state, args.sketch,
                                      qs, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "cardinality":
            rows = R.rollup_cardinality(spark, args.state, args.sketch,
                                        version=args.version).collect()
            print(json.dumps({"sketch": args.sketch,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "stream-dedup":
            stats = R.rollup_stream_dedup(
                spark, args.input, args.state, args.output,
                key_col=args.key_col, checkpoint_dir=args.checkpoint,
                hash_of=args.hash_of, m_bits=args.m_bits,
                salt_buckets=args.salt_buckets,
                max_files_per_trigger=args.max_files_per_trigger,
                max_fill=args.max_fill)
            print(json.dumps(stats, sort_keys=True))
        elif args.cmd == "filter-new":
            df = spark.read.parquet(args.input)
            if args.hash_of:
                from pyspark.sql import functions as F
                df = df.withColumn(args.key_col, F.xxhash64(args.hash_of))
            n_in = df.count()
            out = R.rollup_dedup_filter(spark, df, args.state,
                                        key_col=args.key_col,
                                        sketch_name=args.sketch,
                                        version=args.version,
                                        keep=args.keep)
            out.write.mode("error").parquet(args.output)
            n_out = spark.read.parquet(args.output).count()
            print(json.dumps({"rows_in": n_in, "rows_kept": n_out,
                              "rows_dropped": n_in - n_out,
                              "keep": args.keep, "sketch": args.sketch},
                             sort_keys=True))
        elif args.cmd == "overlap":
            rows = R.rollup_overlap(spark, args.state, args.sketch,
                                    version=args.version).collect()
            print(json.dumps({"sketch": args.sketch,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "topk":
            rows = R.rollup_topk(spark, args.state, args.sketch,
                                 m=args.m, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "m": args.m,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "topk-drift":
            versions = R.rollup_versions(spark, args.state)
            v_from, v_to = R.resolve_drift_versions(versions, args.v_from,
                                                    args.v_to)
            rows = R.rollup_topk_drift(spark, args.state, args.sketch,
                                       m=args.m, v_from=v_from, v_to=v_to,
                                       _versions=versions).collect()
            print(json.dumps({"sketch": args.sketch, "m": args.m,
                              "from": v_from, "to": v_to,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-topk":
            wins = _windows(args.windows, args.ts_unit)
            rows = R.rollup_window_topk(
                spark, args.state, wins, sketch_name=args.sketch,
                m=args.m, now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "m": args.m, "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-topk-drift":
            wins = _windows(args.windows, args.ts_unit)
            rows = R.rollup_window_topk_drift(
                spark, args.state, wins, sketch_name=args.sketch,
                m=args.m, now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "m": args.m, "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-cardinality":
            wins = _windows(args.windows, args.ts_unit)
            rows = R.rollup_window_cardinality(
                spark, args.state, wins, sketch_name=args.sketch,
                now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-rows":
            wins = _windows(args.windows, args.ts_unit)
            rows = R.rollup_window_rows(
                spark, args.state, wins, sketch_name=args.sketch,
                now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-count":
            wins = _windows(args.windows, args.ts_unit)
            keys = [int(k) for k in args.keys.split(",") if k]
            rows = R.rollup_window_counts(
                spark, args.state, keys, wins, sketch_name=args.sketch,
                now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "keys": keys, "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "histogram":
            win = (_windows(args.window, args.ts_unit)[0]
                   if args.window else None)
            df = R.rollup_histogram(spark, args.state, args.sketch,
                                    version=args.version, window=win,
                                    now=args.now)
            if args.format == "csv":
                from p2pddsketch_spark.errors import UsageError
                if not args.output:
                    raise UsageError("--format csv needs --output DIR")
                os.makedirs(args.output, exist_ok=True)
                gcols = [c for c in df.columns
                         if c not in ("key", "count", "lower", "upper",
                                      "estimate")]
                by_group: dict = {}
                for row in df.collect():
                    name = "_".join(str(row[c]) for c in gcols) or "all"
                    by_group.setdefault(name, []).append(row)
                for name, rows in by_group.items():
                    # byte-for-byte the reference's layout: header +
                    # 'key, count, max, min, length, ' rows, fixed
                    # precision 8, trailing ', ' included
                    with open(os.path.join(args.output,
                                           f"{name}.csv"), "w") as f:
                        f.write("key, count, max, min, length, \n")
                        for r in rows:
                            f.write(f"{r['key']}, {r['count']}, "
                                    f"{r['upper']:.8f}, {r['lower']:.8f}, "
                                    f"{r['upper'] - r['lower']:.8f}, \n")
                print(json.dumps({"sketch": args.sketch, "window": win,
                                  "output": args.output, "format": "csv",
                                  "files": sorted(by_group)},
                                 sort_keys=True))
            elif args.output:
                df.write.parquet(args.output)
                # count the WRITTEN parquet (footer-metadata scan),
                # not df — counting df would re-run the blob decode
                n = spark.read.parquet(args.output).count()
                print(json.dumps({"sketch": args.sketch, "window": win,
                                  "output": args.output, "bins": n},
                                 sort_keys=True))
            else:
                rows = df.collect()
                print(json.dumps({"sketch": args.sketch, "window": win,
                                  "now": args.now,
                                  "rows": [row.asDict() for row in rows]},
                                 sort_keys=True))
        elif args.cmd == "window-quantiles":
            wins = _windows(args.windows, args.ts_unit)
            qs = [float(x) for x in args.quantiles.split(",") if x]
            rows = R.rollup_window_quantiles(
                spark, args.state, qs, wins, sketch_name=args.sketch,
                now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "quantiles": qs, "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "window-drift":
            wins = _windows(args.windows, args.ts_unit)
            qs = [float(x) for x in args.quantiles.split(",") if x]
            rows = R.rollup_window_drift(
                spark, args.state, wins, sketch_name=args.sketch,
                qs=qs, now=args.now, version=args.version).collect()
            print(json.dumps({"sketch": args.sketch, "windows": wins,
                              "quantiles": qs, "now": args.now,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True, allow_nan=True))
        elif args.cmd == "drift":
            qs = tuple(float(x) for x in args.quantiles.split(",") if x)
            # list versions ONCE and resolve the pair from that snapshot:
            # resolving inside rollup_drift and again here could straddle
            # a concurrent commit and print ingest metadata for a
            # different version pair than the drift rows describe
            versions = R.rollup_versions(spark, args.state)
            v_from, v_to = R.resolve_drift_versions(versions, args.v_from,
                                                    args.v_to)
            rows = R.rollup_drift(spark, args.state, args.sketch, qs=qs,
                                  v_from=v_from, v_to=v_to,
                                  _versions=versions).collect()
            # manifest-level ingest delta between the two versions: the
            # volume context for the per-group estimate deltas, free
            # from the metrics already recorded at each commit
            vs = dict(versions)
            f_tot = vs[v_from].get("rows_seen_total", {})
            t_tot = vs[v_to].get("rows_seen_total", {})
            ingest = {k: int(t_tot.get(k, 0)) - int(f_tot.get(k, 0))
                      for k in sorted(set(f_tot) | set(t_tot))}
            print(json.dumps({"sketch": args.sketch, "from": v_from,
                              "to": v_to, "rows_ingested_between": ingest,
                              "rows": [row.asDict() for row in rows]},
                             sort_keys=True))
        elif args.cmd == "fsck":
            report = R.rollup_fsck(spark, args.state, deep=args.deep)
            print(json.dumps(report, sort_keys=True))
            return 0 if report["ok"] else 1
        elif args.cmd == "prune":
            print(json.dumps(R.rollup_prune(spark, args.state,
                                            keep=args.keep), sort_keys=True))
        elif args.cmd == "restore":
            print(json.dumps(R.rollup_restore(spark, args.state,
                                              to_version=args.to_version),
                             sort_keys=True))
        else:  # versions
            print(json.dumps({"versions": [
                {"version": v, "manifest": m}
                for v, m in R.rollup_versions(spark, args.state)]},
                sort_keys=True))
        return 0
    # the full documented error contract: ValueError covers the typed
    # Usage/Param errors, OSError covers FileError (no parquet files),
    # GenericError covers restore's torn-copy refusal, PySparkException
    # covers AnalysisException and executor-side failures — all become
    # the one parseable {"error": ...} line
    except (ValueError, NotImplementedError, OSError, GenericError,
            PySparkException) as e:
        print(json.dumps({"error": str(e)}))
        return 1


if __name__ == "__main__":
    sys.exit(main())
