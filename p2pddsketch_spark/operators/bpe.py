"""Iterated BPE tokenizer training — the merge loop.

`bpe_top_pairs` (plans/queries.py) computes ONE merge step's pair
statistics; this module runs the full training loop: k rounds of
(count weighted adjacent symbol pairs → pick the best pair → apply the
merge to every word), producing the ranked merge table a BPE tokenizer
is defined by. Reference analog: the build→query driver loop of
/root/reference/main.cpp:432-472 (fixed-iteration loop with per-round
state), re-expressed as a DataFrame loop with per-iteration
materialization like `operators/pagerank.py`.

Scale shape: the corpus shuffles ONCE into the distinct-word-count
table; every iteration thereafter runs over the vocabulary table
(bounded by distinct words, not raw tokens) — the standard trick that
makes BPE training corpus-size-independent after the first pass. The
per-iteration driver round-trip is a single row (the argmax pair),
mirroring PageRank's convergence probe.

Cross-engine-stable merge application: a word's symbol sequence is
carried as ONE string — single-space padded, DOUBLE-space joined
(`' a  b  c '`). Applying merge (L, R) is then a plain literal
`replace(s, ' L  R ', ' LR ')`: left-to-right non-overlapping scanning
(identical in the JVM and DuckDB, no regex/lookbehind) reproduces
greedy BPE exactly — in `a a a a` the first match consumes its
trailing space but the DOUBLE space leaves the next pair's leading
space intact, so `[aa, aa]` comes out, while overlapping `a a a`
correctly yields `[aa, a]`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, wc, s): every DISTINCT word with its corpus occurrence count
    and padded symbol string. The only pass over the raw corpus."""
    chars = F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")
    return (df.select(F.explode(F.split(text_col, " ")).alias("w"))
            .where(F.length("w") >= 1)
            .groupBy("w").agg(F.count("*").alias("wc"))
            .select("w", "wc", F.concat(F.lit(" "),
                                        F.array_join(chars, "  "),
                                        F.lit(" ")).alias("s")))


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(l, r, c): adjacent symbol pairs weighted by word count (sliding
    window — overlapping occurrences all count, standard BPE
    statistics)."""
    arr = F.split(F.trim(F.col("s")), "  ")
    pairs = (syms.select("wc", arr.alias("arr"))
             .where(F.size("arr") >= 2)
             .select("wc", F.explode(F.expr(
                 "transform(sequence(1, size(arr) - 1),"
                 " i -> struct(arr[i - 1] AS l, arr[i] AS r))")).alias("p")))
    return (pairs.groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("c")))


# un-checkpointed merge applications a round's aggregation may stack on
# top of the last materialized vocabulary: each is one literal replace()
# over a vocab-sized table, so recomputing up to this many per round is
# far cheaper than a materialization JOB per round (round-6: halves the
# per-round Spark job count for small k), while plan depth and
# executor-loss recompute stay bounded for real (k ≈ 10⁴) runs
_CHECKPOINT_EVERY = 8


def _train(df: DataFrame, k: int, text_col: str, need_final: bool = True):
    """Run the k-round merge loop; returns (merges, final_syms) where
    merges = [(iteration, l, r, merged, count)] and final_syms is the
    (w, wc, s) vocabulary after all merges — MATERIALIZED (eager
    localCheckpoint, ContextCleaner-owned blocks; the caller's unpersist
    is a no-op kept for API symmetry) when `need_final`, else None and
    the loop skips the final materialization entirely (the train-only
    caller reads just the merge rows). One corpus shuffle into the
    persisted round-0 table; each round is ONE argmax job over the
    vocab-sized table with ≤ _CHECKPOINT_EVERY stacked replaces, with a
    lineage-cutting checkpoint job every _CHECKPOINT_EVERY rounds —
    bounded storage and O(k · _CHECKPOINT_EVERY) worst-case recompute."""
    if k < 1:
        from p2pddsketch_spark.errors import ParamError
        raise ParamError(f"k must be >= 1, got {k}")
    base = word_symbol_table(df, text_col).persist()
    # whether syms is an eager checkpoint: round 0's table is only
    # persisted (and unpersisted below), each round's select is lazy
    syms, depth, materialized = base, 0, False
    merges = []
    for it in range(1, k + 1):
        best = (_pair_counts(syms)
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((it, l, r, l + r, c))
        syms = syms.select(
            "w", "wc",
            F.replace(F.col("s"), F.lit(f" {l}  {r} "),
                      F.lit(f" {l}{r} ")).alias("s"))
        depth += 1
        materialized = False
        if depth >= _CHECKPOINT_EVERY:
            syms = syms.localCheckpoint(eager=True)
            base.unpersist()
            base, depth, materialized = syms, 0, True
    if not need_final:
        base.unpersist()
        return merges, None
    if not materialized:
        syms = syms.localCheckpoint(eager=True)
    base.unpersist()
    return merges, syms


_MERGES_SCHEMA = ("iteration int, left string, right string, "
                  "merged string, pair_count long")


def _merges_df(spark, merges: list) -> DataFrame:
    return spark.createDataFrame(merges, _MERGES_SCHEMA)


def bpe_train_merges(df: DataFrame, k: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Train k BPE merges over the corpus; returns one row per merge:
    (iteration, left, right, merged, pair_count), iteration 1-based in
    merge order. Deterministic: ties break on (count DESC, l ASC,
    r ASC). Stops early if no pair remains (tiny corpora)."""
    spark = df.sparkSession
    merges, _ = _train(df, k, text_col, need_final=False)
    return _merges_df(spark, merges)


def bpe_encode(df: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Train k merges, then ENCODE every document with the trained
    vocabulary — the apply half of the tokenizer loop. Returns one row
    per doc with at least one word: (id, n_words, n_sym, enc_hash)
    where enc_hash fingerprints the full symbol sequence in word order
    (md5 of the per-word symbol strings joined positionally), pinning
    every symbol at every position without shipping arrays.

    Scale shape: the trained word→symbols mapping is vocabulary-sized;
    encoding is ONE equi-join of the posexploded corpus against it on
    the word key (hot words are high-fanout build rows — Spark's AQE
    skew split applies), then one doc-keyed shuffle to re-assemble.
    Zero Python stages."""
    merges, syms = _train(df, k, text_col)
    # pin the VOCAB-sized mapping (not the corpus-sized output): the
    # checkpoint severs lineage from the training chain so the trained
    # state is released, at dimension-table materialization cost
    mapping = syms.select(
        "w", F.trim(F.col("s")).alias("sym_str"),
        F.size(F.split(F.trim(F.col("s")), "  ")).alias("ns")) \
        .localCheckpoint(eager=True)
    syms.unpersist()
    words = (df.select(id_col, F.posexplode(F.split(text_col, " "))
                       .alias("pos", "w"))
             .where(F.length("w") >= 1))
    enc = words.join(mapping, "w")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "sym_str"))),
        lambda x: x["sym_str"])
    return (enc.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("ns").cast("long").alias("n_sym"),
                 F.md5(F.concat_ws(" / ", ordered)).alias("enc_hash")))


def bpe_symbol_ids(vocab: DataFrame, sym_col: str = "sym_str") -> DataFrame:
    """(sym, cnt, token_id) over the final vocabulary's symbol
    inventory: `vocab` carries (wc, sym_col) where sym_col is the
    TRIMMED double-space-joined symbol string; id = row_number by
    (corpus frequency DESC, symbol ASC) starting at 0 — the same
    deterministic ranking as `operators.pipeline.build_vocab`. Bounded
    by |base alphabet| + k merges, so always dimension-table sized."""
    from pyspark.sql.window import Window
    counts = (vocab.select("wc", F.explode(
                  F.split(sym_col, "  ")).alias("sym"))
              .groupBy("sym").agg(F.sum("wc").alias("cnt")))
    w = Window.orderBy(F.desc("cnt"), F.asc("sym"))
    return counts.withColumn(
        "token_id", (F.row_number().over(w) - F.lit(1)).cast("int"))


def bpe_tokenize(df: DataFrame, k: int = 5, text_col: str = "text",
                 id_col: str = "doc_id", with_merges: bool = False):
    """Train k merges, then encode every document into TOKEN-ID ARRAYS:
    (passthrough cols, tokens array<int>, n_tok) — the exact shape
    `operators.pipeline.tokenize` emits, so trained-BPE output feeds
    `pack_sequences` and the sketch harness unchanged (the end-to-end
    train → encode → pack tokenizer story).

    Scale shape: the symbol→id ranking AND the per-word id arrays are
    computed on the VOCAB-sized table (symbol dim is broadcast); the
    corpus then pays ONE equi-join on the word key bringing each word's
    pre-resolved id array, and one doc-keyed shuffle flattens them in
    word order. Docs with zero words survive with tokens = [] via the
    same left-join-back as `tokenize`. Zero Python stages. `id_col` is
    the non-null natural key; other passthrough columns may be NULL
    (assembly never keys on them).

    `with_merges=True` additionally returns the trained merge table
    (the `bpe_train_merges` shape) from the SAME training run, for
    callers that persist the tokenizer definition beside the encoded
    corpus — returns (sequences_df, merges_df)."""
    merges, syms = _train(df, k, text_col)
    mapping = syms.select(
        "w", "wc", F.trim(F.col("s")).alias("sym_str")) \
        .localCheckpoint(eager=True)
    syms.unpersist()
    sym_ids = bpe_symbol_ids(mapping)
    word_tok = (mapping
                .select("w", F.posexplode(F.split("sym_str", "  "))
                        .alias("sp", "sym"))
                .join(F.broadcast(sym_ids.select("sym", "token_id")), "sym")
                .groupBy("w")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("sp", "token_id"))),
                    lambda x: x["token_id"]).alias("wtoks")))
    # assembly keys on id_col ALONE (the non-null natural key); other
    # passthrough columns ride along from the df side of the final
    # left join, so a NULL there (e.g. source) cannot null-equality-miss
    # its own tokens
    keep = [c for c in df.columns if c != text_col]
    words = (df.select(id_col, F.posexplode(F.split(text_col, " "))
                       .alias("pos", "w"))
             .where(F.length("w") >= 1))
    assembled = (words.join(word_tok, "w")
                 .groupBy(id_col)
                 .agg(F.flatten(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "wtoks"))),
                     lambda x: x["wtoks"])).alias("tokens")))
    out = (df.select(*keep)
           .join(assembled, id_col, "left")
           .withColumn("tokens", F.coalesce(
               F.col("tokens"), F.array().cast("array<int>")))
           .withColumn("n_tok", F.size("tokens").cast("int")))
    if with_merges:
        return out, _merges_df(df.sparkSession, merges)
    return out
