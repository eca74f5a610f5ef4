"""Unit tests for the training-data pipeline operators
(operators/pipeline.py): vocabulary tie-breaking, order-preserving
tokenization, next-fit packing invariants, planted contamination."""

import pytest
from pyspark.sql import functions as F

from p2pddsketch_spark.operators.pipeline import (build_vocab, tokenize,
                                                  pack_sequences,
                                                  ngram_contamination)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c a b a", "web"),
        (2, "b c d d", "web"),
        (3, "e e e e e", "web"),
        (4, "a rare token stream", "books"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_vocab_rank_and_ties(spark, docs):
    v = {r["term"]: r["token_id"] for r in build_vocab(docs, 4).collect()}
    # counts: a=4 b=3 e=5 c=2 d=2 rare/token/stream=1 → e,a,b then c beats d on term ASC
    assert v == {"e": 0, "a": 1, "b": 2, "c": 3}


def test_tokenize_preserves_order_and_oov(spark, docs):
    v = build_vocab(docs, 4)
    out = {r["doc_id"]: (list(r["tokens"]), r["n_tok"])
           for r in tokenize(docs, v).collect()}
    assert out[1] == ([1, 2, 3, 1, 2, 1], 6)
    assert out[2] == ([2, 3, -1, -1], 4)          # d is OOV at V=4
    assert out[4] == ([1, -1, -1, -1], 4)
    # token-array equality is the per-row invariant (BASELINE input_hint):
    # re-running tokenize reproduces identical arrays
    again = {r["doc_id"]: list(r["tokens"]) for r in tokenize(docs, v).collect()}
    assert {k: v0[0] for k, v0 in out.items()} == again


def test_pack_sequences_invariants(spark):
    rows = [(i, "s", int(ln)) for i, ln in enumerate([400, 400, 300, 1200, 10, 1014, 1])]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in pack_sequences(df, max_tokens=1024).collect()}
    # next-fit: [400,400] fits pack0; 300 overflows -> pack1; 1200 alone
    # in pack2 (over-long doc allowed); 10 -> pack3 (1200 already > cap);
    # 1014 joins 10 (10+1014=1024 fits exactly); 1 -> pack4
    assert got[0] == (0, 0)
    assert got[1] == (0, 400)
    assert got[2] == (1, 0)
    assert got[3] == (2, 0)
    assert got[4] == (3, 0)
    assert got[5] == (3, 10)
    assert got[6] == (4, 0)


def test_pack_respects_cap_per_fixture(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .withColumn("n_tok", F.size(F.split("text", " ")).cast("long"))
    packed = pack_sequences(docs, max_tokens=1024)
    sums = (packed.join(docs.select("doc_id", "n_tok"), "doc_id")
            .groupBy("source", "pack_id")
            .agg(F.sum("n_tok").alias("tot"), F.count("*").alias("n")))
    bad = sums.where((F.col("tot") > 1024) & (F.col("n") > 1)).count()
    assert bad == 0  # only singleton packs may exceed the cap
    # offsets are the running sum: offset + n_tok of the last doc == tot
    chk = (packed.join(docs.select("doc_id", "n_tok"), "doc_id")
           .groupBy("source", "pack_id")
           .agg(F.max(F.col("pack_offset") + F.col("n_tok")).alias("end"),
                F.sum("n_tok").alias("tot")))
    assert chk.where(F.col("end") != F.col("tot")).count() == 0


def test_chunk_text_boundaries(spark):
    from p2pddsketch_spark.operators.pipeline import chunk_text
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(12))),   # n=12 > size -> 3 chunks
         (2, "a b c"),                                 # n <= size -> 1 chunk
         (3, "")],                                     # degenerate
        "doc_id long, text string")
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk"], r["n_chunks"])
           for r in chunk_text(df, size=5, overlap=2).collect()}
    # stride 3: starts at words 1, 4, 7, 10 -> ceil((12-5)/3)+1 = 4 chunks
    assert got[(1, 0)][0] == "w0 w1 w2 w3 w4"
    assert got[(1, 1)][0] == "w3 w4 w5 w6 w7"
    assert got[(1, 3)][0] == "w9 w10 w11"  # short tail
    assert got[(1, 0)][1] == 4
    assert got[(2, 0)] == ("a b c", 1)
    assert got[(3, 0)] == ("", 1)
    with pytest.raises(ValueError):
        chunk_text(df, size=5, overlap=5)


def test_contamination_planted(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [(0, base, "eval"),                       # bench doc
            (1, base + " tail x", "web"),            # shares all 8-grams
            (2, "a b c d e f g h i j", "web"),       # disjoint
            (3, "short doc", "web")]                 # no 8-gram at all
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = df.where(F.col("doc_id") == 0)
    got = {r["doc_id"]: (r["shared_grams"], r["contaminated"])
           for r in ngram_contamination(df, bench, n=8).collect()}
    assert set(got) == {1, 2, 3}         # bench doc excluded from output
    assert got[1][0] == 3 and got[1][1]  # the 3 grams of a 10-word doc
    assert got[2] == (0, False)
    assert got[3] == (0, False)


def test_tokenize_keeps_zero_word_docs(spark):
    """A doc whose text yields no words (NULL text — split('', ' ') still
    gives one empty-string word, but split(NULL) gives NULL and
    posexplode emits no rows) must still appear in the sequences table
    with tokens = [] / n_tok = 0, not silently vanish."""
    rows = [(1, "a b c", "web"), (2, None, "web"), (3, None, "books")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    v = build_vocab(df.where(F.col("text").isNotNull()), 4)
    got = {r["doc_id"]: (list(r["tokens"]), r["n_tok"])
           for r in tokenize(df, v).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == ([], 0) and got[3] == ([], 0)
    assert got[1][1] == 3


def test_vocab_coverage_clamps_oversized_requests(spark, docs):
    """Requested sizes beyond the distinct-term count clamp to the full
    vocabulary (coverage = 1.0) instead of dropping out of the curve."""
    from p2pddsketch_spark.operators.pipeline import vocab_coverage
    out = {r["vocab_size"]: (r["coverage"], r["n_terms_total"])
           for r in vocab_coverage(docs, sizes=(2, 1000)).collect()}
    assert set(out) == {2, 1000}          # nothing silently dropped
    n_terms = out[2][1]
    assert n_terms < 1000
    assert out[1000][0] == pytest.approx(1.0)


def test_vocab_coverage_empty_corpus_emits_zero_rows(spark):
    """A zero-term corpus (no docs, or all-NULL text) still emits every
    requested size with coverage 0.0 / n_terms_total 0 — the curve never
    silently vanishes at the empty edge."""
    from p2pddsketch_spark.operators.pipeline import vocab_coverage
    schema = "doc_id long, text string, source string"
    for df in (spark.createDataFrame([], schema),
               spark.createDataFrame([(1, None, "a")], schema)):
        rows = vocab_coverage(df, sizes=(4, 8)).collect()
        assert [(r["vocab_size"], r["coverage"], r["n_terms_total"])
                for r in rows] == [(4, 0.0, 0), (8, 0.0, 0)]


def test_bpe_train_merges_greedy_semantics(spark):
    """The padded double-space replace implements greedy non-overlapping
    BPE exactly: 'aaaa' merges to [aa, aa] (not [aa, a, a]), overlapping
    'aaa' to [aa, a]; merge order is (count DESC, l ASC, r ASC); merged
    symbols participate in later rounds."""
    from p2pddsketch_spark.operators.bpe import bpe_train_merges
    from p2pddsketch_spark.errors import ParamError
    df = spark.createDataFrame(
        [("aaaa aba low lower lowest",), ("low low newer newest",)],
        "text string")
    got = [(r["iteration"], r["left"], r["right"], r["merged"],
            r["pair_count"]) for r in bpe_train_merges(df, k=5).collect()]
    assert got[0] == (1, "l", "o", "lo", 5)       # l-o in all 5 low* words
    assert got[1] == (2, "lo", "w", "low", 5)     # merged symbol re-merges
    # 'aaaa' holds 3 overlapping (a,a) pairs — sliding-window statistics
    assert got[2] == (3, "a", "a", "aa", 3)
    assert [g[0] for g in got] == [1, 2, 3, 4, 5]
    with pytest.raises(ParamError):
        bpe_train_merges(df, k=0)


def test_bpe_final_vocab_reuses_round_k_checkpoint(spark):
    """When k is a multiple of the checkpoint cadence, round k's checkpoint
    already materialized the final vocabulary: asking for it launches no
    job beyond the train-only loop, and the returned table is usable."""
    from p2pddsketch_spark.operators import bpe
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("pack my box with five dozen liquor jugs",),
         ("how vexingly quick daft zebras jump",)], "text string")
    k = 8
    assert k % bpe._CHECKPOINT_EVERY == 0
    sc = spark.sparkContext
    jobs, out = {}, {}
    for need_final in (False, True):
        group = f"bpe-final-{need_final}"
        sc.setJobGroup(group, group)
        try:
            out[need_final] = bpe._train(df, k, "text", need_final=need_final)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[need_final] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(out[True][0]) == k and out[True][0] == out[False][0]
    assert jobs[True] == jobs[False]
    assert out[True][1].count() == df.selectExpr(
        "explode(split(text, ' ')) AS w").distinct().count()


def test_bpe_encode_applies_trained_merges(spark):
    """Encoding uses the trained vocabulary: merged symbols shrink the
    per-doc symbol count below the character count, every non-empty doc
    appears, and the fingerprint is deterministic."""
    from p2pddsketch_spark.operators.bpe import bpe_encode
    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "aaaa aba"), (3, "x")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_words"], r["n_sym"], r["enc_hash"])
           for r in bpe_encode(df, k=3).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1: 16 chars in 3 words; merges (l,o)->(lo,w)->(a,a) leave
    # low=1 sym, lower=3, lowest=4 -> 8 symbols < 14 chars
    assert out[1][0] == 3 and out[1][1] < 14
    assert out[3] == (1, 1, out[3][2])       # single char stays one symbol
    again = {r["doc_id"]: r["enc_hash"] for r in bpe_encode(df, k=3).collect()}
    assert {k: v[2] for k, v in out.items()} == again


def test_bpe_oracle_survives_merge_exhaustion():
    """When the corpus runs out of pairs before k rounds, the DuckDB
    twin must pass the vocabulary through unchanged (not annihilate it
    via a cross join against the empty argmax) so encode-mode still
    emits one row per doc — matching Spark's early break."""
    import duckdb
    from p2pddsketch_spark.plans.oracles import duckdb_bpe_sql
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(1, 'ab ab'), (2, 'ab')) t(doc_id, text)")
    merges = con.execute(duckdb_bpe_sql(3)).df()
    assert len(merges) == 1                       # only (a,b) exists
    enc = con.execute(duckdb_bpe_sql(3, mode="encode")).df()
    assert list(enc["doc_id"]) == [1, 2]
    assert list(enc["n_sym"]) == [2, 1]           # 'ab' merged to 1 symbol


def test_bpe_handles_special_characters(spark):
    """Symbols may be regex metacharacters, pipes, slashes, or
    multi-byte unicode — the literal replace and the fingerprint
    assembly must treat them verbatim."""
    from p2pddsketch_spark.operators.bpe import bpe_encode, bpe_train_merges
    df = spark.createDataFrame(
        [(1, "a|b a|b a|b (x) (x) ééé"), (2, "a/b a|b ééé")],
        "doc_id long, text string")
    merges = bpe_train_merges(df, k=4).collect()
    assert merges[0]["left"] == "a" and merges[0]["right"] == "|"
    enc = {r["doc_id"]: r["n_sym"] for r in bpe_encode(df, k=4).collect()}
    assert set(enc) == {1, 2}
    assert enc[1] < 3 * 3 + 2 * 3 + 3  # merges shrank the symbol count


def _bpe_reference_tokens(corpus, k):
    """Plain-Python trained-BPE reference: k greedy merge rounds over
    distinct-word stats, then encode every doc to token ids ranked by
    (symbol frequency DESC, symbol ASC) — the per-row invariant
    bpe_tokenize must reproduce array-for-array."""
    from collections import Counter
    words = Counter(w for _, t in corpus for w in (t or "").split() if w)
    syms = {w: [c for c in w] for w in words}
    for _ in range(k):
        pairs = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += words[w]
        if not pairs:
            break
        (l, r), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    freq = Counter()
    for w, s in syms.items():
        for sym in s:
            freq[sym] += words[w]
    ids = {sym: i for i, (sym, _) in enumerate(
        sorted(freq.items(), key=lambda kv: (-kv[1], kv[0])))}
    return {d: [ids[sym] for w in (t or "").split() if w for sym in syms[w]]
            for d, t in corpus}


def test_bpe_tokenize_token_array_equality(spark):
    """bpe_tokenize's token-id arrays equal the plain-Python trained-BPE
    reference row for row (the north-rule per-row invariant), including
    the zero-word doc surviving with tokens = []."""
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    corpus = [(1, "low lower lowest low"), (2, "aaaa aba a"),
              (3, "newer newest new"), (4, None), (5, "x y x")]
    # a NULL passthrough column (source) must not lose its tokens —
    # assembly keys on doc_id alone
    df = spark.createDataFrame(
        [(d, t, None if d == 5 else "s") for d, t in corpus],
        "doc_id long, text string, source string")
    got = {r["doc_id"]: (list(r["tokens"]), r["n_tok"])
           for r in bpe_tokenize(df, k=4).collect()}
    ref = _bpe_reference_tokens(corpus, k=4)
    assert set(got) == set(ref)
    for d in ref:
        assert got[d] == (ref[d], len(ref[d])), d


def test_bpe_tokenize_feeds_pack_sequences(spark):
    """Trained-BPE output composes with pack_sequences exactly like
    `tokenize` output: same (id, tokens, n_tok) shape, packs respect
    max_tokens, every doc lands in exactly one pack."""
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    from p2pddsketch_spark.operators.pipeline import pack_sequences
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "source").limit(60))
    toks = bpe_tokenize(docs, k=3).localCheckpoint(eager=True)
    packed = pack_sequences(toks, max_tokens=4096)
    pdf = packed.toPandas()
    lens = {r["doc_id"]: r["n_tok"] for r in toks.collect()}
    assert set(pdf["doc_id"]) == set(lens)        # every doc packed once
    assert len(pdf) == len(lens)
    per_pack = pdf.groupby(["source", "pack_id"])["doc_id"] \
        .apply(lambda ids: sum(lens[d] for d in ids))
    # a pack only exceeds max_tokens when a single over-long doc owns it
    for (src, pid), tot in per_pack.items():
        n_docs = len(pdf[(pdf["source"] == src) & (pdf["pack_id"] == pid)])
        assert tot <= 4096 or n_docs == 1, (src, pid, tot)


def test_bpe_tokenize_harness_quantiles(spark):
    """The n_tok column of trained-BPE output drives the sketch harness
    like any sequences table — DDSketch quantiles over it land within
    alpha of exact (the tokenizer -> sketch integration the input_hint
    prescribes)."""
    import numpy as np
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    from p2pddsketch_spark.operators.harness import (SketchSpec,
                                                     build_sketches,
                                                     collect_sketches,
                                                     scalar_extractor)
    from p2pddsketch_spark.sketches.ddsketch import DDSketch
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    toks = bpe_tokenize(docs, k=3).localCheckpoint(eager=True)
    out = build_sketches(
        toks.where(F.col("n_tok") > 0),
        [SketchSpec("dds", lambda: DDSketch(alpha=0.01),
                    scalar_extractor("n_tok"))])
    sk = collect_sketches(out)["dds"]
    exact = np.array([r["n_tok"] for r in
                      toks.where(F.col("n_tok") > 0).collect()])
    for q in (0.5, 0.95, 0.99):
        est = sk.quantile(q)
        lo = np.quantile(exact, max(0.0, q - 0.02), method="lower")
        hi = np.quantile(exact, min(1.0, q + 0.02), method="higher")
        assert lo * (1 - 0.011) <= est <= hi * (1 + 0.011), (q, est)


from hypothesis import given, settings, strategies as st

_word = st.text(alphabet="ab", min_size=1, max_size=4)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(_word, min_size=0, max_size=6),
                min_size=1, max_size=5))
def test_property_bpe_tokenize_matches_reference(spark, word_lists):
    """For arbitrary tiny corpora over a 2-letter alphabet (maximal pair
    and rank ties, repeated words, empty docs), bpe_tokenize's arrays
    equal the plain-Python trained-BPE reference — tie-breaks, merge
    exhaustion, and the empty edge included."""
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    corpus = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: list(r["tokens"])
           for r in bpe_tokenize(df, k=3).collect()}
    ref = _bpe_reference_tokens(corpus, k=3)
    assert got == ref


def test_bpe_encode_and_tokenize_agree(spark):
    """The two encode surfaces are the same trained tokenizer: for every
    doc with >= 1 word, bpe_encode's n_sym equals bpe_tokenize's n_tok
    (the fingerprint path and the array path cannot drift apart)."""
    from p2pddsketch_spark.operators.bpe import bpe_encode, bpe_tokenize
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(80))
    enc = {r["doc_id"]: r["n_sym"] for r in bpe_encode(docs, k=3).collect()}
    tok = {r["doc_id"]: r["n_tok"] for r in bpe_tokenize(docs, k=3).collect()}
    assert enc  # non-empty
    for d, n_sym in enc.items():
        assert tok[d] == n_sym, d


# ------------------------------------------------------------ mix_sources

SF_DIR_MIX = "/root/testdata/sf0.001"


def _mix_expected(pdf, budgets, seed=77):
    """Plain-pandas replay of the greedy prefix rule."""
    import numpy as np
    from p2pddsketch_spark.functions.hashing import splitmix64
    keep = []
    for src, grp in pdf.groupby("source"):
        budget = budgets.get(src, 0)
        if budget <= 0:
            continue
        tags = splitmix64(grp["doc_id"].to_numpy(dtype=np.int64), seed=seed)
        order = np.lexsort((grp["doc_id"].to_numpy(), tags))
        run = 0
        for idx in order:
            if run >= budget:
                break
            keep.append(int(grp["doc_id"].iloc[idx]))
            run += int(grp["n_tok"].iloc[idx])
    return sorted(keep)


@pytest.fixture(scope="module")
def mix_docs(spark):
    docs = spark.read.parquet(f"{SF_DIR_MIX}/documents.parquet")
    return docs.select("doc_id", "source", "text").withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long"))


def test_mix_sources_matches_greedy_prefix(spark, mix_docs):
    from p2pddsketch_spark.operators.pipeline import mix_sources
    budgets = {"src0": 700, "src1": 120, "src2": 10_000, "src3": 1}
    got = mix_sources(mix_docs, budgets)
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    pdf = mix_docs.select("doc_id", "source", "n_tok").toPandas()
    assert ids == _mix_expected(pdf, budgets)
    # budget >= the source total keeps every doc; the crossing doc is
    # included, so covered tokens >= budget for under-total budgets
    tot = got.groupBy("source").agg(F.sum("n_tok").alias("t"),
                                    F.count("*").alias("n")).collect()
    by = {r["source"]: (r["t"], r["n"]) for r in tot}
    assert by["src2"][1] == 25           # whole source
    assert by["src0"][0] >= 700
    assert by["src3"][1] == 1            # budget 1: exactly the first doc
    assert set(by) == {"src0", "src1", "src2", "src3"}  # others dropped


def test_mix_sources_layout_invariant_and_monotonic(spark, mix_docs):
    from p2pddsketch_spark.operators.pipeline import mix_sources
    budgets = {"src4": 650, "src5": 650}
    a = sorted(r["doc_id"] for r in
               mix_sources(mix_docs, budgets).select("doc_id").collect())
    b = sorted(r["doc_id"] for r in
               mix_sources(mix_docs.repartition(7), budgets)
               .select("doc_id").collect())
    assert a == b
    # a larger budget selects a SUPERSET (strict-prefix rule)
    bigger = sorted(r["doc_id"] for r in
                    mix_sources(mix_docs, {"src4": 1300, "src5": 1300})
                    .select("doc_id").collect())
    assert set(a) <= set(bigger)


def test_mix_sources_bucket_path_equals_one_window(spark, mix_docs):
    """The bucketed two-phase plan == the naive one-window form for
    every bucket granularity (the boundary-bucket refinement is exact)."""
    from p2pddsketch_spark.operators.pipeline import mix_sources
    budgets = {"src6": 900, "src7": 333}
    ref = None
    for bits in (1, 4, 12):
        ids = sorted(r["doc_id"] for r in
                     mix_sources(mix_docs, budgets, bucket_bits=bits)
                     .select("doc_id").collect())
        if ref is None:
            ref = ids
        assert ids == ref, f"bucket_bits={bits} diverged"
    pdf = mix_docs.select("doc_id", "source", "n_tok").toPandas()
    assert ref == _mix_expected(pdf, budgets)


def test_mix_sources_duckdb_twin(spark, mix_docs):
    import duckdb
    from p2pddsketch_spark.operators.pipeline import (duckdb_mix_sources_sql,
                                                      mix_sources)
    budgets = {"src8": 800, "src9": 50, "src10": 99_999}
    got = (mix_sources(mix_docs, budgets)
           .groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("n_tokens"),
                F.sum("doc_id").alias("id_checksum"))
           .orderBy("source").toPandas())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_DIR_MIX}/documents.parquet'")
    want = con.sql(duckdb_mix_sources_sql(budgets)).df()
    import pandas as pd
    pd.testing.assert_frame_equal(
        got.sort_values("source").reset_index(drop=True).astype(
            {"n_docs": "int64", "n_tokens": "int64", "id_checksum": "int64"}),
        want.sort_values("source").reset_index(drop=True).astype(
            {"n_docs": "int64", "n_tokens": "int64", "id_checksum": "int64"}))


def test_importance_scores_twin_and_semantics(spark, mix_docs):
    """DSIR-style importance weights: exact parity with the DuckDB twin
    (same smoothing, same rounded-term decimal sums), target-source docs
    average strictly higher than the rest, and n_terms conserves the
    corpus token count."""
    import duckdb

    import pandas as pd
    from p2pddsketch_spark.operators.pipeline import (duckdb_importance_sql,
                                                      importance_scores)
    got = importance_scores(
        spark.read.parquet(f"{SF_DIR_MIX}/documents.parquet"),
        "src3").toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_DIR_MIX}/documents.parquet'")
    want = con.sql(duckdb_importance_sql("src3")).df()
    pd.testing.assert_frame_equal(
        got.sort_values("doc_id").reset_index(drop=True)
           .astype({"n_terms": "int64"}),
        want.sort_values("doc_id").reset_index(drop=True)
            .astype({"n_terms": "int64"}))
    src = (spark.read.parquet(f"{SF_DIR_MIX}/documents.parquet")
           .select("doc_id", "source",
                   F.size(F.split("text", " ")).alias("n_w")).toPandas())
    m = got.merge(src, on="doc_id")
    assert (m["n_terms"] == m["n_w"]).all()
    assert (m[m.source == "src3"]["score_bits"].mean()
            > m[m.source != "src3"]["score_bits"].mean())


def test_importance_scores_hashed_features(spark):
    """The paper's hashed-feature form: pmod(xxhash64, B) buckets replayed
    exactly through the XXH64-in-SQL chain, the likelihood table
    broadcast (never a fact-side shuffle), and target/rest separation
    preserved under bucketing."""
    import duckdb

    import pandas as pd
    from p2pddsketch_spark.operators.pipeline import (duckdb_importance_sql,
                                                      importance_scores)
    docs = spark.read.parquet(f"{SF_DIR_MIX}/documents.parquet")
    # B must sit well below the corpus token count (the paper's regime:
    # B=10^4 vs 10^9+ tokens) or the B-term Laplace mass drowns the
    # class-prior correction; the fixture has ~160k tokens, so B=64
    # keeps that regime while still exercising bucket collisions
    # (31 distinct tokens)
    out = importance_scores(docs, "src3", hash_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_DIR_MIX}/documents.parquet'")
    want = (con.sql(duckdb_importance_sql("src3", hash_buckets=64)).df()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype({"n_terms": "int64"}),
                                  want.astype({"n_terms": "int64"}))
    src = docs.select("doc_id", "source").toPandas()
    m = got.merge(src, on="doc_id")
    assert (m[m.source == "src3"]["score_bits"].mean()
            > m[m.source != "src3"]["score_bits"].mean())
    with pytest.raises(ValueError):
        importance_scores(docs, "src3", hash_buckets=1)


def test_mix_sources_edge_cases(spark, mix_docs):
    from p2pddsketch_spark.operators.pipeline import mix_sources
    # empty budget map -> empty result, schema preserved
    out = mix_sources(mix_docs, {})
    assert out.count() == 0 and out.columns == mix_docs.columns
    # zero/negative budgets are dropped sources
    assert mix_sources(mix_docs, {"src0": 0, "src1": -5}).count() == 0
    with pytest.raises(ValueError):
        mix_sources(mix_docs, {"src0": 10}, bucket_bits=0)
    # non-string group column: the bounds schema follows the input type
    idf = spark.createDataFrame(
        [(1, 0, 5), (2, 0, 5), (3, 1, 5)], "doc_id long, grp int, n long")
    got = mix_sources(idf, {0: 6}, group_col="grp", len_col="n")
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]


def test_mix_sources_adversarial_shapes(spark):
    """Seeded adversarial corpus: zero-length docs (never advance the
    running total but obey the prefix rule), one giant source next to
    singleton sources, duplicate lengths, and a budget landing EXACTLY
    on a prefix sum (the pre == budget boundary drops everything after).
    Distributed selection == plain-pandas greedy replay for every
    budget configuration, at two bucket granularities."""
    import numpy as np
    from p2pddsketch_spark.operators.pipeline import mix_sources
    rng = np.random.default_rng(4242)
    rows = []
    did = 0
    # giant source: 400 docs incl. ~10% zero-length
    for _ in range(400):
        n = 0 if rng.random() < 0.1 else int(rng.integers(1, 40))
        rows.append((did, "giant", n)); did += 1
    # 30 singleton sources
    for i in range(30):
        rows.append((did, f"tiny{i}", int(rng.integers(0, 20)))); did += 1
    # duplicate-length source
    for _ in range(50):
        rows.append((did, "dup", 7)); did += 1
    pdf_rows = rows
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    import pandas as pd
    pdf = pd.DataFrame(pdf_rows, columns=["doc_id", "source", "n_tok"])

    # an exact prefix-sum budget for 'dup': first 13 docs in tag order
    budgets_list = [
        {"giant": 500, "dup": 13 * 7, "tiny0": 1, "tiny5": 0},
        {"giant": 10**9, "dup": 1, **{f"tiny{i}": 5 for i in range(30)}},
        {"giant": 1, "dup": 350},
    ]
    for budgets in budgets_list:
        want = _mix_expected(pdf, budgets)
        for bits in (3, 12):
            got = sorted(r["doc_id"] for r in
                         mix_sources(df, budgets, bucket_bits=bits)
                         .select("doc_id").collect())
            assert got == want, (budgets, bits)
