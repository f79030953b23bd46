"""Distributed BPE tokenizer tests (round-8 brief #1).

Strategy: an INDEPENDENT naive reference trainer lives in this file
(full pair-stat recount every iteration — deliberately a different
algorithm shape from the package's incremental local trainer and its
distributed descriptor loop), and all three must produce byte-identical
merge tables on pinned corpora; encodings must match the reference AND
reproduce the trainer's final corpus segmentation (the in-order
property the module docstring pins). Partitioning must not change
anything.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.operators import bpe
from hadoop_20_warehouse_fix_spark.operators.bpe import (
    END_OF_WORD,
    _train_local,
    bpe_encode,
    bpe_token_count_column,
    bpe_train,
    bpe_word_counts,
    detokenize_column,
    encode_word,
    pack_by_bpe_budget,
    split_words,
)

# Sennrich et al. 2016's classic toy corpus shape (public example).
PINNED_DOCS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest widest",
    "widest widest low lower",
]


def ref_train(word_counts: dict[str, int], num_merges: int, min_pair_count: int = 2):
    """Naive reference: full recount every iteration. Returns (merges,
    final corpus state as {original word -> symbol tuple})."""
    state = {w: tuple(w) + (END_OF_WORD,) for w in word_counts}
    merges = []
    for _ in range(num_merges):
        stats: dict[tuple[str, str], int] = {}
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + word_counts[w]
        if not stats:
            break
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((a, b))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = tuple(out)
    return merges, state


def _counts(docs: list[str]) -> dict[str, int]:
    wc: dict[str, int] = {}
    for d in docs:
        for w in split_words(d):
            wc[w] = wc.get(w, 0) + 1
    return wc


def test_local_trainer_matches_naive_reference():
    wc = _counts(PINNED_DOCS)
    want, _ = ref_train(wc, 12)
    got = _train_local(sorted(wc.items()), 12, 2)
    assert got == want
    assert len(want) >= 8  # the corpus supports a real merge sequence


def _distributed(monkeypatch):
    """Force the distributed trainer: every non-empty vocabulary is
    over a zero local-word cap."""
    monkeypatch.setattr(bpe, "BPE_MAX_LOCAL_WORDS", 0)


def test_train_strategies_and_partitionings_agree(spark, monkeypatch):
    wc = _counts(PINNED_DOCS)
    want, _ = ref_train(wc, 10)
    df = spark.createDataFrame([(d,) for d in PINNED_DOCS], ["text"])
    local = bpe_train(df, "text", 10)  # tiny vocab -> local
    _distributed(monkeypatch)
    dist1 = bpe_train(df.repartition(1), "text", 10)
    dist7 = bpe_train(df.repartition(7), "text", 10)
    assert local == dist1 == dist7 == want


def test_encode_reproduces_training_segmentation(spark):
    wc = _counts(PINNED_DOCS)
    merges, final_state = ref_train(wc, 12)
    cache: dict[str, tuple[str, ...]] = {}
    for w, want_syms in final_state.items():
        assert encode_word(w, merges, cache) == want_syms, w
    # and through the Spark column op, whole documents
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(PINNED_DOCS)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r.toks for r in bpe_encode(df, "text", merges, "toks").collect()}
    for i, d in enumerate(PINNED_DOCS):
        want = [s for w in split_words(d) for s in final_state[w]]
        assert rows[i] == want, i


def test_encode_edge_cases_and_word_split_parity(spark):
    merges = [("a", "b")]
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "ab a\xa0b")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.t for r in bpe_encode(df, "text", merges, "t").collect()}
    assert rows[0] == [] and rows[1] == [] and rows[2] == []
    # NBSP is NOT Java-\s whitespace: "a\xa0b" is ONE word on both the
    # JVM training split and the Python encode split (parity pin).
    assert rows[3] == ["ab", END_OF_WORD, "a", "\xa0", "b", END_OF_WORD]
    jvm_words = sorted(
        r.word for r in bpe_word_counts(df.filter("doc_id = 3"), "text").collect()
    )
    assert jvm_words == sorted(split_words("ab a\xa0b")) == ["ab", "a\xa0b"]


def test_train_local_vs_reference_property():
    """Random small corpora: the incremental local trainer must equal
    the naive full-recount reference merge-for-merge."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abcde", min_size=1, max_size=6)

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(wc=st.dictionaries(word, st.integers(1, 9), min_size=1, max_size=12))
    def prop(wc):
        want, _ = ref_train(wc, 15)
        got = _train_local(sorted(wc.items()), 15, 2)
        assert got == want

    prop()


def test_chunk_documents_bpe_windows(spark):
    from hadoop_20_warehouse_fix_spark.operators.chunking import (
        chunk_documents_bpe,
        chunk_token_arrays,
    )

    docs = [(i, " ".join(PINNED_DOCS) + f" tail{i}") for i in range(3)] + [(9, "low")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = bpe_train(df, "text", 8)
    enc = {r.doc_id: r.t for r in bpe_encode(df, "text", merges, "t").collect()}
    out = chunk_documents_bpe(df, "doc_id", "text", merges, max_tokens=7).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        # disjoint windows (stride defaults to max_tokens) reconstruct
        # the full token stream exactly, in order
        flat = [t for r in rows for t in r.chunk]
        assert flat == enc[doc_id]
        assert all(r.n_tokens == len(r.chunk) <= 7 for r in rows)
        assert rows[0].chunk_idx == 0 and rows[-1].n_tokens >= 1
        # reconstructed text round-trips through detokenize
        for r in rows:
            assert isinstance(r.chunk_text, str)
    # whole-doc window text reconstructs the original (single window doc)
    tiny = chunk_documents_bpe(
        df.filter("doc_id = 9"), "doc_id", "text", merges, max_tokens=64
    ).collect()
    assert len(tiny) == 1 and tiny[0].chunk_text == "low"
    # min_tokens gate: empty text emits nothing
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    assert chunk_documents_bpe(empty, "doc_id", "text", merges).count() == 0
    # chunk_token_arrays validates window params like chunk_documents
    with pytest.raises(ValueError, match="stride"):
        chunk_token_arrays(df, "doc_id", "text", max_tokens=4, stride=9)


def test_pack_by_bpe_budget_boundary_semantics(spark):
    df = spark.createDataFrame(
        [(i, "low low low low") for i in range(10)], "doc_id long, text string"
    )
    merges = bpe_train(df, "text", 4)
    n_tok = (
        df.select(bpe_token_count_column("text", merges).alias("n")).collect()[0].n
    )
    assert n_tok >= 4  # 4 words -> at least one token each
    packed = pack_by_bpe_budget(df, "doc_id", "text", merges, budget=3 * n_tok)
    shards = {r.doc_id: r.shard_id for r in packed.collect()}
    # exclusive-prefix rule: doc i starts at i*n_tok -> shard i*n_tok//(3*n_tok)
    assert shards == {i: i // 3 for i in range(10)}


def test_detokenize_inverts_encode(spark):
    df = spark.createDataFrame(
        [(0, "newest widest lower low"), (1, "low")], "doc_id long, text string"
    )
    merges = bpe_train(df, "text", 10)
    out = bpe_encode(df, "text", merges, "t").select(
        "doc_id", detokenize_column("t").alias("back")
    )
    assert {r.doc_id: r.back for r in out.collect()} == {
        0: "newest widest lower low",
        1: "low",
    }


def test_bpe_save_load_merges_roundtrip(spark):
    from hadoop_20_warehouse_fix_spark.operators.bpe import (
        bpe_load_merges,
        bpe_save_merges,
    )

    df = spark.createDataFrame([(d,) for d in PINNED_DOCS], ["text"])
    merges = bpe_train(df, "text", 10)
    try:
        bpe_save_merges(spark, merges, "bpe_merges_rt")
        assert bpe_load_merges(spark, "bpe_merges_rt") == merges
        with pytest.raises(ValueError, match="empty"):
            bpe_save_merges(spark, [], "bpe_merges_rt2")
    finally:
        spark.sql("DROP TABLE IF EXISTS bpe_merges_rt")


def test_capstone_budgets_in_real_tokens(spark):
    """The capstone pipeline with tokenizer_merges: n_tokens is the
    REAL tokenizer count of the surviving text (not the whitespace
    proxy), and shard packing replays sequentially on those counts."""
    from tests.conftest import SF_CORRECT

    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_training_set,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    merges = bpe_train(docs, "text", 20)
    try:
        out = corpus_prepare_training_set(
            spark, SF_CORRECT, token_budget=800, tokenizer_merges=merges
        ).collect()
        assert out
        enc = {
            r.doc_id: len(r.t)
            for r in bpe_encode(docs, "text", merges, "t").collect()
        }
        for r in out:
            assert r.n_tokens == enc[r.doc_id], r.doc_id
        train = sorted((r for r in out if r.split == "train"), key=lambda r: r.doc_id)
        cum = 0
        for r in train:
            assert r.shard_id == cum // 800
            cum += r.n_tokens
    finally:
        spark.catalog.clearCache()


def test_bpe_vocab_and_id_encoding(spark):
    """The trainer-facing tensor: vocab is deterministic (<unk>, sorted
    base chars, </w>, merges in learned order), ids round-trip through
    the vocab list, and train-time-unseen characters map to <unk>."""
    from hadoop_20_warehouse_fix_spark.operators.bpe import (
        UNK_TOKEN,
        bpe_encode_ids_column,
        bpe_vocab,
    )

    df = spark.createDataFrame([(d,) for d in PINNED_DOCS], ["text"])
    merges = bpe_train(df, "text", 10)
    vocab = bpe_vocab(df, "text", merges)
    assert vocab[0] == UNK_TOKEN and END_OF_WORD in vocab
    assert len(vocab) == len(set(vocab))  # no duplicate ids
    base = sorted(set("".join(_counts(PINNED_DOCS))))
    assert vocab[1 : 1 + len(base)] == base  # code-point-ordered alphabet
    probe = spark.createDataFrame([(0, "newest low"), (1, "zebra!")], ["doc_id", "text"])
    toks = {r.doc_id: r.t for r in bpe_encode(probe, "text", merges, "t").collect()}
    got = {
        r.doc_id: r.i
        for r in probe.select(
            "doc_id", bpe_encode_ids_column("text", merges, vocab).alias("i")
        ).collect()
    }
    idx = {tok: i for i, tok in enumerate(vocab)}
    assert got[0] == [idx[t] for t in toks[0]]  # ids mirror the string pieces
    # 'z', 'b', 'r', 'a', '!' were never in the training corpus -> <unk>=0
    assert 0 in got[1]
    assert [vocab[i] for i in got[0]] == toks[0]  # round-trip through vocab


def test_unigram_lm_scores_in_domain_below_gibberish(spark):
    """The CCNet-shaped model gate: train tokenizer + unigram LM on an
    in-domain corpus, score candidates — in-domain text must score
    (mean -logprob/token) strictly below character gibberish the
    tokenizer shatters into rare pieces; empty docs are NULL; the
    model is deterministic across partitionings (integer counts)."""
    from hadoop_20_warehouse_fix_spark.operators.bpe import (
        bpe_vocab,
        lm_score_column,
        unigram_lm_train,
    )

    train = spark.createDataFrame([(d,) for d in PINNED_DOCS * 3], ["text"])
    merges = bpe_train(train, "text", 12)
    vocab = bpe_vocab(train, "text", merges)
    lp1 = unigram_lm_train(train, "text", merges, vocab)
    lp2 = unigram_lm_train(train.repartition(7), "text", merges, vocab)
    assert lp1 == lp2  # exact counts -> bit-identical model
    import math

    assert abs(sum(math.exp(p) for p in lp1) - 1.0) < 1e-9  # proper distribution
    probe = spark.createDataFrame(
        [(0, "newest newest low lower"), (1, "zqxj vwkp gfhd"), (2, "")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.s
        for r in probe.select(
            "doc_id", lm_score_column("text", merges, vocab, lp1).alias("s")
        ).collect()
    }
    assert got[2] is None
    assert got[0] < got[1], got  # in-domain scores strictly better


def test_unicode_word_split_and_strategy_parity(spark, monkeypatch):
    """Supplementary-plane (emoji), CJK, and combining-accent text:
    JVM split('') yields code points exactly like Python tuple(word),
    so local and distributed trainers stay byte-identical beyond the
    BMP (pinned — a UTF-16 surrogate-half split would silently diverge
    the two paths)."""
    docs = ["😀a 😀a 😀b 😀b 日本 日本 café café"]
    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    loc = bpe_train(df, "text", 6)
    _distributed(monkeypatch)
    dist = bpe_train(df, "text", 6)
    assert loc == dist and len(loc) == 6
    assert any("é" in a + b for a, b in loc)  # non-ASCII merges as symbols


def test_min_word_count_prunes_the_hapax_tail(spark):
    """The web-scale knob: words under the threshold leave the counts
    table before the merge loop, equivalent to training on the corpus
    with those words removed."""
    docs = [("low low low low newest newest hapax1 hapax2 hapax3",)]
    df = spark.createDataFrame(docs, ["text"])
    pruned = bpe_train(df, "text", 8, min_word_count=2)
    wc = {w: c for w, c in _counts([docs[0][0]]).items() if c >= 2}
    want, _ = ref_train(wc, 8)
    assert pruned == want
    assert not any("h" in a + b for a, b in pruned)  # hapax chars never merge


def test_detokenize_survives_literal_marker_text(spark):
    """Round-8 review: text literally containing '</w>' (crawled
    markup) used to be corrupted by the whole-string replace; the
    per-token suffix strip keeps mid-token literals intact."""
    from hadoop_20_warehouse_fix_spark.operators.bpe import detokenize_column

    df = spark.createDataFrame([(0, "a</w>b c"), (1, "x\ty  z")], ["doc_id", "text"])
    merges: list = []  # char-level: no merges, markers only at word ends
    out = {
        r.doc_id: r.back
        for r in bpe_encode(df, "text", merges, "t")
        .select("doc_id", detokenize_column("t").alias("back"))
        .collect()
    }
    assert out[0] == "a</w>b c"  # literal marker text survives
    assert out[1] == "x y z"  # whitespace runs collapse (documented)


def test_distributed_trainer_storage_is_bounded(spark, monkeypatch):
    """Round-8 review: per-iteration localCheckpoints used to pile up
    until GC. The explicit unpersist chain returns the persistent-RDD
    registry to its starting size when training ends."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([(d,) for d in PINNED_DOCS], ["text"])
    _distributed(monkeypatch)
    merges = bpe_train(df, "text", 10)
    assert len(merges) == 10
    assert jsc.getPersistentRDDs().size() <= before  # nothing leaked
