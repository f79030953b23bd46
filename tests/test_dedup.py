"""Dedup extension tests: approximate variants validated against the
exact variant (recall/precision), SimHash invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bands,
    simhash_pairs,
)
from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope
from tests.conftest import SF_CORRECT, cache_manager_empty


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_recall_precision(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5))
    approx = _pairs(
        minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=60, bands=20, threshold=0.5)
    )
    assert exact, "testdata should contain planted near-dup pairs"
    # Exact-verified candidates ⇒ no false positives, ever.
    assert approx <= exact
    # Banding S-curve: recall near 1 for the planted high-jaccard pairs.
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} below bound ({len(approx)}/{len(exact)})"


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    bands = {r.id: (r.band0, r.band1, r.band2, r.band3) for r in simhash_bands(df, "doc_id", "text").collect()}
    assert bands[1] == bands[2]
    assert bands[1] != bands[3]
    pairs = {(r.id_a, r.id_b, r.hamming) for r in simhash_pairs(df, "doc_id", "text").collect()}
    assert (1, 2, 0) in pairs


def test_simhash_near_dup_small_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated content about databases")],
        ["doc_id", "text"],
    )
    got = {(r.id_a, r.id_b) for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_dedup_family_null_and_degenerate_text(spark):
    """Null / empty / sub-n-gram documents must flow through every dedup
    path without errors and without fabricated pairs."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        doc_shingle_sets,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "alpha beta gamma delta"),
            (7, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    sets_ = {r.id: r.shs for r in doc_shingle_sets(df, "doc_id", "text", 3).collect()}
    assert sets_[1] == [] and sets_[2] == [] and sets_[3] == [] and sets_[4] == []
    assert sets_[6] == sets_[7] and len(sets_[6]) == 2
    pairs = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5).collect()}
    assert pairs == {(6, 7)}
    pairs_pf = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5, prefix_filter=True).collect()
    }
    assert pairs_pf == {(6, 7)}
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert lsh == {(6, 7)}
    sim = {(r.id_a, r.id_b) for r in simhash_pairs(df, "doc_id", "text").collect()}
    assert (6, 7) in sim
    # exact dedup: null text groups under one fingerprint bucket safely
    n = exact_dedup(df, "doc_id", "text").count()
    assert n >= 5


def test_text_functions_null_and_empty(spark):
    from hadoop_20_warehouse_fix_spark.functions.text import (
        lang_id,
        quality_score,
        rolling_fingerprint,
        ws_token_count,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, None), (2, ""), (3, "the cat")], "id long, text string")
    rows = {
        r.id: (r.lang, r.q, r.n, r.fp)
        for r in df.select(
            "id",
            lang_id(F.col("text")).alias("lang"),
            quality_score(F.col("text")).alias("q"),
            ws_token_count(F.col("text")).alias("n"),
            rolling_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert rows[2][0] == "unknown" and rows[2][1] == 0.0 and rows[2][2] == 0
    assert rows[3][0] == "en" and rows[3][2] == 2


def test_ngram_jaccard_strategies_match_python_truth(spark):
    """Randomized cross-check: both physical strategies (posting-list
    blocking, PPJoin prefix filtering) against an independent pure-Python
    brute-force oracle, over corpora engineered to contain near-dups
    (shared base docs with small mutations)."""
    import random

    from hadoop_20_warehouse_fix_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    did = 0
    for base in range(8):
        base_words = [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        for _variant in range(rng.randint(1, 3)):
            words = list(base_words)
            for _mut in range(rng.randint(0, 2)):
                pos = rng.randrange(len(words))
                words[pos] = rng.choice(vocab)
            docs.append((did, " ".join(words)))
            did += 1

    def shingles(text):
        ws = [w for w in text.lower().split() if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    truth = set()
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
                truth.add((ida, idb))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    posting = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5).collect()
    }
    prefix = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5, prefix_filter=True).collect()
    }
    assert posting == truth
    assert prefix == truth


def test_connected_components_chain_and_clique(spark):
    from hadoop_20_warehouse_fix_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    # clique {10,11,12}, isolated pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_warns_when_iteration_cap_hit(spark):
    """A chain whose diameter exceeds max_iter must WARN (silently
    non-canonical labels would make dedup keep extra survivors)."""
    import warnings

    from hadoop_20_warehouse_fix_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=2).collect()
    assert any("without converging" in str(w.message) for w in caught)
    # and with enough rounds it converges silently
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r.id: r.cluster_id for r in connected_components(chain).collect()}
    assert not any("without converging" in str(w.message) for w in caught)
    assert set(got.values()) == {1}


def test_ngram_cross_max_df_guard(spark):
    """The cross-corpus pair op's DF² guard (round-6 measurement: a hot
    corpus shingle's cs×ns cross product GC-killed the 500k rescan):
    max_df=None stays exact; a permissive cap changes nothing; a
    too-tight cap yields a SUBSET with under-estimated jaccard — the
    same documented approximation contract as ngram_jaccard_pairs."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import ngram_jaccard_pairs_cross

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = corpus.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_cross(batch, corpus, "doc_id", "text").collect()
    }
    assert exact, "planted near-copies must cross-match"
    loose = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_cross(
            batch, corpus, "doc_id", "text", max_df=10_000
        ).collect()
    }
    assert loose == exact
    tight = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_cross(
            batch, corpus, "doc_id", "text", max_df=2
        ).collect()
    }
    assert set(tight) <= set(exact)
    assert all(tight[k] <= exact[k] for k in tight)  # intersections only shrink


def test_connected_components_star_rule_equals_min_label(spark):
    """Round-5 brief #4: large-star/small-star is now code. Equality
    with min-label on seeded random graphs, and the adversarial case:
    a 60-node path (diameter 59) that min-label's default 25-round cap
    cannot converge resolves cleanly under the O(log^2 n) star rule
    with max_iter=25, no warning."""
    import random
    import warnings

    from hadoop_20_warehouse_fix_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        edge_list = [(a, b) for a, b in edge_list if a != b]
        edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
        ml = {r.id: r.cluster_id for r in connected_components(edges, max_iter=100).collect()}
        st = {r.id: r.cluster_id for r in connected_components(edges, rule="star").collect()}
        assert st == ml, (trial, st, ml)

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r.id: r.cluster_id for r in connected_components(path, rule="star").collect()}
    assert not any("max_iter" in str(w.message) for w in caught), [
        str(w.message) for w in caught
    ]
    assert got == {i: 1 for i in range(1, 61)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        connected_components(path, rule="bogus")
    spark.catalog.clearCache()


def test_dedup_clusters_transitive_on_corpus(spark):
    # Transitivity on the real corpus: every pair's two docs share one
    # cluster label, and labels are the component-min doc_id.
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    for p in pairs.collect():
        assert cc[p.id_a] == cc[p.id_b]
        assert cc[p.id_a] <= min(p.id_a, p.id_b)
    assert all(cid in cc and cc[cid] == cid for cid in set(cc.values()))


def test_dedup_lines_within_doc(spark):
    from hadoop_20_warehouse_fix_spark.operators.dedup import dedup_lines_within_doc

    docs = spark.createDataFrame(
        [
            (1, "intro\nbody A\nintro\nbody B\nintro"),
            (2, "x\nx\nx"),
            (3, "only line"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in dedup_lines_within_doc(docs, "doc_id", "text").collect()}
    # first occurrence kept, order preserved
    assert got == {1: "intro\nbody A\nbody B", 2: "x", 3: "only line"}


def test_measured_strategy_helper(spark, monkeypatch):
    """Round-6 brief #5: the measure-then-pick probe idiom lives in ONE
    helper — persist, one-scalar count, cap rule — shared by
    repeated_spans / remove_boilerplate_lines / choose_near_dup_strategy.
    The cap is inclusive (<= picks the small side), read from
    BROADCAST_PROBE_ROW_CAP at call time, and the persisted relation is
    registered in the open cache_scope."""
    from hadoop_20_warehouse_fix_spark.operators import dedup
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        measured_strategy,
        pick_by_scalar,
    )

    assert pick_by_scalar(10, 10, "s", "l") == "s"  # inclusive cap
    assert pick_by_scalar(11, 10, "s", "l") == "l"

    rel = spark.range(100).select(F.col("id").alias("fp"))
    spark.catalog.clearCache()
    with cache_scope() as held:
        monkeypatch.setattr(dedup, "BROADCAST_PROBE_ROW_CAP", 100)
        strat, out, n = measured_strategy(rel, "broadcast", "merge")
        assert (strat, n) == ("broadcast", 100)
        assert len(held) == 1 and held[0] is out
        assert out.storageLevel.useMemory  # persisted for the winning branch
        monkeypatch.setattr(dedup, "BROADCAST_PROBE_ROW_CAP", 99)
        strat2, out2, n2 = measured_strategy(rel, "broadcast", "merge")
        assert (strat2, n2) == ("merge", 100)
    assert not out.storageLevel.useMemory  # released with the scope
    assert cache_manager_empty(spark)


def test_remove_boilerplate_lines(spark):
    from hadoop_20_warehouse_fix_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique one\nFOOTER"),
            (2, "COOKIE BANNER\nunique two\nFOOTER"),
            (3, "COOKIE BANNER\nunique three\nFOOTER"),
            (4, "no boilerplate here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(docs, "doc_id", "text", min_docs=3).collect()
    }
    # lines in >=3 distinct docs dropped everywhere; order preserved
    assert got == {
        1: "unique one",
        2: "unique two",
        3: "unique three",
        4: "no boilerplate here",
    }
    # min_docs above corpus max -> nothing removed
    untouched = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(docs, "doc_id", "text", min_docs=10).collect()
    }
    assert untouched[1] == "COOKIE BANNER\nunique one\nFOOTER"


def test_remove_boilerplate_anti_strategy_equals_broadcast(spark, monkeypatch):
    """Round-5 brief #4: the left-anti fallback for oversized
    boilerplate sets is now code. Identical output to the broadcast
    form on the same corpus — including the adversarial all-lines-
    boilerplate doc, which must survive as EMPTY text, not vanish —
    and the probe flips to anti when its count exceeds
    BROADCAST_PROBE_ROW_CAP."""
    from hadoop_20_warehouse_fix_spark.operators import dedup
    from hadoop_20_warehouse_fix_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "HEAD\nunique one\nFOOT"),
            (2, "HEAD\nunique two\nFOOT"),
            (3, "HEAD\nFOOT"),  # all boilerplate -> must become ""
            (4, "free standing doc"),
            (5, "unique five\nHEAD"),
        ],
        "doc_id long, text string",
    )
    def run():
        # the probe's persisted boiler relation is registered in the
        # open scope (round-6 review: it used to leak for the session)
        with cache_scope() as held:
            out = remove_boilerplate_lines(docs, "doc_id", "text", min_docs=3)
            plan = out._jdf.queryExecution().executedPlan().toString()
            got = {r.doc_id: r.text for r in out.collect()}
            assert len(held) == 1
        assert cache_manager_empty(spark)
        return got, plan

    spark.catalog.clearCache()
    # 2 boilerplate lines (HEAD, FOOT): under the default cap ->
    # broadcast, a collected array filter with no anti join
    bc, bc_plan = run()
    assert "LeftAnti" not in bc_plan
    # past the cap -> the anti plan (no collected boilerplate array)
    monkeypatch.setattr(dedup, "BROADCAST_PROBE_ROW_CAP", 1)
    anti, anti_plan = run()
    assert "LeftAnti" in anti_plan
    assert anti == bc
    assert bc[3] == ""  # survived, emptied
    assert bc[4] == "free standing doc"


def test_minhash_survivors_equal_exact_component_survivors(spark):
    # The pair-free star-graph survivors must equal survivors computed
    # from the exact Jaccard>=0.5 pair graph's components (Spark-side
    # twin of the driver's recursive-CTE oracle).
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        connected_components,
        dedup_minhash_survivors,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    fast = {r.doc_id for r in dedup_minhash_survivors(docs, "doc_id", "text").select("doc_id").collect()}
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = connected_components(pairs)
    dropped = {r.id for r in cc.filter(F.col("cluster_id") != F.col("id")).collect()}
    exact = {r.doc_id for r in docs.select("doc_id").collect()} - dropped
    assert fast == exact


def test_exact_dedup_rows_matches_semijoin_reference(spark):
    """exact_dedup_rows (min_by one-shuffle form) must keep exactly the
    rows the winners+left-semi-join reference formulation keeps —
    including under mass duplication (hot fingerprints) and unique
    texts, with all payload columns intact."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        exact_dedup_rows,
        normalize_text,
    )

    rows = [(i, f"dup text {i % 7}", float(i)) for i in range(200)]
    rows += [(1000 + i, f"unique {i}", -1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, payload double")
    fp = F.md5(normalize_text(F.col("text")))

    got = exact_dedup_rows(df, "doc_id", fp)
    winners = (
        df.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    want = df.join(winners.select("doc_id"), "doc_id", "left_semi")
    assert got.columns == df.columns
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == 7 + 50


def test_exact_dedup_rows_plan_single_aggregate_no_join(spark):
    """The min_by form must compile to a join-free plan: one partial +
    one final aggregate around a single exchange. (The semi-join form it
    replaced costs 3 exchanges at scale — SCALING.md round 4.)"""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        exact_dedup_rows,
        normalize_text,
    )
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    docs = load_table(spark, SF_CORRECT, "documents")
    out = exact_dedup_rows(docs, "doc_id", F.md5(normalize_text(F.col("text"))))
    s = plan_summary(out)
    assert s.num_broadcast_joins == 0 and s.num_sortmerge_joins == 0
    assert s.num_exchanges == 1


def test_langscore_struct_matches_composed_functions(spark):
    """The fused one-traversal scorer must be value-identical to the
    composed lang_id/quality_score/ws_token_count expressions on
    adversarial text (ties, empty, punctuation-heavy, multilingual)."""
    from hadoop_20_warehouse_fix_spark.functions.text import (
        LANG_PRIORITY,
        lang_from_scores,
        lang_id,
        langscore_struct,
        quality_from_parts,
        quality_score,
        ws_token_count,
    )
    from hadoop_20_warehouse_fix_spark.operators.dedup import words_of

    texts = [
        (1, "the cat and the hat is it"),
        (2, "der hund und die katze ist ein zu"),
        (3, "el que los y en es una las"),
        (4, "le la et les des est une dans"),
        (5, "the der el le"),  # 1-each tie -> priority order wins
        (6, ""),
        (7, "   "),
        (8, "!!! ??? ;;; :::"),
        (9, "the the der der"),  # en/de tie at 2 -> en (priority)
        (10, "supercalifragilisticexpialidocious xx"),
        (11, "a b c d e f g the"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    composed = df.select(
        "doc_id",
        lang_id(F.col("text")).alias("pred"),
        F.round(quality_score(F.col("text")), 9).alias("q"),
        ws_token_count(F.col("text")).alias("n_tokens"),
    )
    tokened = df.select("doc_id", "text", words_of(F.col("text")).alias("words"))
    counted = tokened.select(
        "doc_id",
        langscore_struct(F.col("words")).alias("ls"),
        F.size("words").alias("n_words"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", r"[\w\s]", "")).alias("n_punct"),
    )
    fused = counted.select(
        "doc_id",
        lang_from_scores({lang: F.col("ls")[lang] for lang in LANG_PRIORITY}).alias("pred"),
        F.round(
            quality_from_parts(
                F.col("n_words"), F.col("ls")["sum_len"], F.col("n_chars"), F.col("n_punct")
            ),
            9,
        ).alias("q"),
        F.col("n_words").alias("n_tokens"),
    )
    assert composed.exceptAll(fused).count() == 0 and fused.exceptAll(composed).count() == 0


def test_corpus_clean_lsh_swap_same_survivors(spark):
    """The near_dup='lsh' scale path must keep the same survivor set as
    the default exact ngram path on the test corpus (LSH recall loss
    would show up here as extra survivors)."""
    from hadoop_20_warehouse_fix_spark.queries.corpus import corpus_clean

    try:
        a = corpus_clean(spark, SF_CORRECT, near_dup="ngram").select("doc_id")
        b = corpus_clean(spark, SF_CORRECT, near_dup="lsh").select("doc_id")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        # corpus_clean persists its cleaned corpus; a failing assertion
        # must not leak the cache into later tests in the shared session.
        spark.catalog.clearCache()


def test_estimate_posting_pair_volume_exact_at_full_sample(spark):
    """At sample_frac=1.0 the estimate IS the exact posting-pair count.
    Corpus built so the only shared shingle is the common 'a b c' head
    (each doc's tail words are unique), hence volume = k*(k-1)/2 for the
    k docs carrying it."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        estimate_posting_pair_volume,
    )

    k = 6
    rows = [(i, f"a b c t{i}x t{i}y t{i}z") for i in range(k)]
    rows += [(100 + i, f"u{i}p u{i}q u{i}r u{i}s") for i in range(4)]  # no shared shingles
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    est = estimate_posting_pair_volume(df, "doc_id", "text", n=3, sample_frac=1.0)
    assert est == k * (k - 1) / 2


def test_choose_near_dup_strategy_flips_on_duplication(spark):
    """The SCALING.md operating rule as code: a bounded-DF corpus picks
    the exact ngram path; heavy duplication (every posting list hot)
    crosses the pair budget and flips to LSH."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        choose_near_dup_strategy,
    )

    base = [(i, f"w{i}a w{i}b w{i}c w{i}d common tail words here") for i in range(20)]
    df = spark.createDataFrame(base, ["doc_id", "text"])
    budget = 500.0
    assert choose_near_dup_strategy(df, "doc_id", "text", pair_budget=budget) == "ngram"

    # 30x duplication: the 5 'common tail words here'-window shingles
    # each reach DF ~600 => pair volume >> budget.
    dup = [(1000 * r + i, t) for r in range(30) for (i, t) in base]
    ddf = spark.createDataFrame(dup, ["doc_id", "text"])
    assert choose_near_dup_strategy(ddf, "doc_id", "text", pair_budget=budget) == "lsh"
    # Sampling preserves the decision (deterministic md5 coin, scaled
    # estimate stays orders of magnitude over budget).
    assert (
        choose_near_dup_strategy(ddf, "doc_id", "text", sample_frac=0.5, pair_budget=budget)
        == "lsh"
    )


def test_corpus_clean_auto_matches_ngram_at_test_scale(spark):
    """near_dup='auto' must resolve to the exact ngram path (hence
    identical output) on the healthy-DF test corpus — the determinism
    contract that makes auto safe on oracle-gated runs."""
    from hadoop_20_warehouse_fix_spark.queries.corpus import corpus_clean

    try:
        a = corpus_clean(spark, SF_CORRECT, near_dup="ngram")
        b = corpus_clean(spark, SF_CORRECT, near_dup="auto")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        spark.catalog.clearCache()


def test_decontaminate_flag_and_clean_planted_overlap(spark):
    """Planted 4-gram overlap: train doc 1 embeds an eval phrase (two
    distinct shared 4-grams), doc 2 is clean, doc 3 shares the phrase
    verbatim. flag counts DISTINCT shared n-grams; clean drops exactly
    the flagged docs."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import decontaminate

    evalset = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "we know the capital of france is warm in summer"),
            (2, "completely unrelated training text about databases and joins"),
            (3, "the capital of france is paris obviously says the quiz"),
        ],
        ["doc_id", "text"],
    )
    flags = {r.id: r.n_hits for r in decontaminate(train, evalset, "doc_id", "text", n=4).collect()}
    # doc 1 shares 'the capital of france' + 'capital of france is' = 2
    assert flags[1] == 2
    assert 2 not in flags
    assert flags[3] >= 4  # the whole eval doc appears => all its 4-grams
    survivors = {r.doc_id for r in decontaminate(train, evalset, "doc_id", "text", n=4, mode="clean").collect()}
    assert survivors == {2}


def test_decontaminate_eval_side_broadcasts_and_train_never_shuffles_in_clean_mode(spark):
    """The 100 TB contract from the docstring: eval shingles broadcast
    (bounded side), and clean mode's anti-join keeps the corpus side
    shuffle-free — zero Exchange nodes in the whole plan."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import decontaminate
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    cleaned = decontaminate(tr, ev, "doc_id", "text", n=4, mode="clean")
    s = plan_summary(cleaned)
    assert "BroadcastExchange" in s.text and s.num_sortmerge_joins == 0
    # The only shuffles are the eval-shingle distinct and the
    # contamination-sized flag aggregation — corpus ROWS (the text
    # payload) must never enter an Exchange.
    import re

    shuffled_cols = [
        {c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()}
        for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", s.text
        )
    ]
    assert shuffled_cols, "expected the bounded-side exchanges to be visible"
    assert all("text" not in cols for cols in shuffled_cols), shuffled_cols


def test_repetition_struct_matches_python_reference(spark):
    """repetition_struct's run-length fold vs a plain-python Counter on
    crafted docs: heavy word repetition, heavy bigram repetition, a
    normal doc, an empty doc, and a one-word doc."""
    from collections import Counter

    from hadoop_20_warehouse_fix_spark.functions.text import repetition_struct
    from hadoop_20_warehouse_fix_spark.operators.dedup import words_of

    texts = {
        1: "spam spam spam spam eggs spam spam ham spam spam",
        2: "to be or not to be or not to be or not to be",
        3: "a perfectly ordinary sentence with distinct tokens only",
        4: "",
        5: "single",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", words_of(F.col("text")).alias("words")
        ).select("doc_id", repetition_struct(F.col("words")).alias("r")).select("doc_id", "r.*").collect()
    }
    for doc_id, text in texts.items():
        words = [w for w in text.lower().split() if w]
        bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]
        got = out[doc_id]
        assert got.n_words == len(words)
        assert got.n_distinct_words == len(set(words))
        assert got.top_word_count == (max(Counter(words).values()) if words else 0)
        assert got.n_bigrams == len(bigrams)
        assert got.n_distinct_bigrams == len(set(bigrams))


def test_repetition_struct_pandas_equals_fold(spark):
    """The Arrow-batched strategy and the JVM fold must agree row-for-row
    on the real corpus (same contract, two physical paths — the
    fold-vs-BLAS discipline)."""
    from hadoop_20_warehouse_fix_spark.functions.text import (
        repetition_struct,
        repetition_struct_pandas,
    )
    from hadoop_20_warehouse_fix_spark.operators.dedup import words_of

    docs = load_table(spark, SF_CORRECT, "documents")
    tok = docs.select("doc_id", words_of(F.col("text")).alias("words"))
    a = tok.select("doc_id", repetition_struct(F.col("words")).alias("r")).select("doc_id", "r.*")
    b = tok.select("doc_id", repetition_struct_pandas(F.col("words")).alias("r")).select("doc_id", "r.*")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# --- property-based: repetition stats vs a Python reference -------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    # Tiny vocabulary forces heavy repetition; include the empty doc.
    _doc = st.lists(st.sampled_from(["x", "y", "zz", "x y"]), min_size=0, max_size=12).map(
        " ".join
    )

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(texts=st.lists(_doc, min_size=1, max_size=6))
    def test_repetition_struct_property_vs_counter(spark, texts):
        """Both physical strategies vs collections.Counter truth on
        adversarial token streams (note 'x y' tokens create bigrams
        colliding with genuine adjacency — the contract is defined on
        the whitespace token stream, so both engines and the reference
        agree by construction)."""
        from collections import Counter

        from hadoop_20_warehouse_fix_spark.functions.text import (
            repetition_struct,
            repetition_struct_pandas,
        )
        from hadoop_20_warehouse_fix_spark.operators.dedup import words_of

        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        tok = df.select("doc_id", words_of(F.col("text")).alias("words"))
        for fn in (repetition_struct, repetition_struct_pandas):
            got = {
                r.doc_id: r
                for r in tok.select("doc_id", fn(F.col("words")).alias("r"))
                .select("doc_id", "r.*")
                .collect()
            }
            for doc_id, text in enumerate(texts):
                words = [w for w in text.lower().split() if w]
                bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]
                g = got[doc_id]
                assert g.n_words == len(words)
                assert g.n_distinct_words == len(set(words))
                assert g.top_word_count == (max(Counter(words).values()) if words else 0)
                assert g.n_bigrams == len(bigrams)
                assert g.n_distinct_bigrams == len(set(bigrams))


def test_corpus_clean_repetition_gate(spark):
    """repetition_gate=True must (a) leave the default pipeline
    untouched when off (oracle contract), (b) never let a repetitive
    doc survive, (c) stay one fused plan — the gate adds NO file scan
    (the token array is already materialized in the projection)."""
    from hadoop_20_warehouse_fix_spark.queries import load_all
    from hadoop_20_warehouse_fix_spark.queries.corpus import corpus_clean

    try:
        gated = corpus_clean(spark, SF_CORRECT, repetition_gate=True)
        repetitive = {
            r.doc_id
            for r in load_all()["text_repetition_stats"]
            .fn(spark, SF_CORRECT)
            .filter(F.col("repetitive"))
            .collect()
        }
        survivors = {r.doc_id for r in gated.collect()}
        assert survivors, "gated pipeline should keep most of the corpus"
        assert not (survivors & repetitive), survivors & repetitive
    finally:
        spark.catalog.clearCache()


def test_corpus_prepare_training_set_end_to_end(spark):
    """Capstone pipeline invariants at test scale: non-empty; the eval
    slice and every contaminated doc excluded; splits partition the
    set; train shards respect the token budget at every boundary
    (a shard's cumulative mass only exceeds the budget by less than
    its last doc)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import decontaminate
    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_training_set,
    )

    try:
        out = corpus_prepare_training_set(spark, SF_CORRECT, token_budget=500).collect()
        assert out
        assert all(r.doc_id % 97 != 0 for r in out)
        assert {r.split for r in out} <= {"train", "val", "test"}
        docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
        flagged = {
            r.id
            for r in decontaminate(
                docs.filter(F.col("doc_id") % 97 != 0),
                docs.filter(F.col("doc_id") % 97 == 0),
                "doc_id", "text", n=4,
            ).collect()
        }
        assert not ({r.doc_id for r in out} & flagged)
        # shard packing: replay the sequential rule on the train split
        train = sorted((r for r in out if r.split == "train"), key=lambda r: r.doc_id)
        assert train and all(r.shard_id is not None for r in train)
        cum = 0
        for r in train:
            assert r.shard_id == cum // 500
            cum += r.n_tokens
        assert all(r.shard_id is None for r in out if r.split != "train")
    finally:
        spark.catalog.clearCache()


def test_corpus_prepare_training_set_with_mix(spark):
    """Capstone with the optional mixing stage: output schema unchanged,
    still non-empty, and the retained per-source token mass tracks the
    requested proportions for the sources named in the mix (verified by
    joining survivors back to the documents table)."""
    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_training_set,
    )

    try:
        mix = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
        out = corpus_prepare_training_set(spark, SF_CORRECT, target_mix=mix)
        docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "source")
        by_src = {
            r.source: r.w
            for r in out.join(docs, "doc_id")
            .groupBy("source")
            .agg(F.sum("n_tokens").alias("w"))
            .collect()
        }
        assert set(by_src) <= set(mix), by_src  # unnamed sources dropped
        assert by_src, "mixed pipeline should retain documents"
        total = sum(by_src.values())
        # loose tolerance: tiny corpus (~25 docs/source pre-gates), the
        # binding source rides whole and others thin toward the target
        for s, share in mix.items():
            if s in by_src:
                assert 0.0 < by_src[s] / total < min(1.0, share + 0.35), (s, by_src)
        assert set(out.columns) == {"doc_id", "n_tokens", "quality", "split", "shard_id"}
    finally:
        spark.catalog.clearCache()


def test_repeated_spans_and_removal_vs_python_reference(spark):
    """Exact-substring span dedup vs a brute-force python reference:
    a 60-char license block planted in 3 docs at different offsets is
    detected (every window inside it, all 3 docs) and removed, while
    unique content — including a W-char self-repeat within ONE doc,
    which min_docs=2 must ignore — passes through byte-identical."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    block = "this exact license block is repeated verbatim everywhere!!"  # 58 chars
    assert len(block) == 58
    texts = {
        1: "unique preamble one. " + block + " unique tail one.",
        2: block + " second doc distinct content follows here.",
        3: "doc three starts differently then " + block,
        4: "entirely unique document with no shared fifty-char spans at all",
        5: "zz" * 40,  # heavy SELF-repetition only — not cross-doc
    }
    W = 40
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    spans = repeated_spans(df, "doc_id", "text", window=W, stride=1, min_docs=2).collect()

    # python reference: windows appearing in >= 2 distinct docs
    from collections import defaultdict

    occ = defaultdict(set)
    for i, t in texts.items():
        for p in range(len(t) - W + 1):
            occ[t[p : p + W]].add(i)
    expected = set()
    for i, t in texts.items():
        for p in range(len(t) - W + 1):
            if len(occ[t[p : p + W]]) >= 2:
                expected.add((i, p + 1, p + W))
    assert {(r.doc_id, r.start, r.end) for r in spans} == expected
    assert {r.doc_id for r in spans} == {1, 2, 3}  # 4 unique, 5 self-repeat only

    out = {
        r.doc_id: r.text
        for r in remove_repeated_spans(df, "doc_id", "text", window=W, stride=1).collect()
    }
    assert out[4] == texts[4] and out[5] == texts[5]  # untouched, byte-identical
    for i in (1, 2, 3):
        assert block not in out[i]
    # removal equals the python reference cut of merged expected spans —
    # this equality is the margin-preservation proof: unique chars
    # farther than W-1 from any repeated span survive exactly.
    for i, t in texts.items():
        cuts = sorted((s - 1, e) for (d, s, e) in expected if d == i)
        merged = []
        for s, e in cuts:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        kept, last = [], 0
        for s, e in merged:
            kept.append(t[last:s])
            last = e
        kept.append(t[last:])
        assert out[i] == "".join(kept), i
    assert "one." in out[1]  # distant unique margin text survived
    spark.catalog.clearCache()  # repeated_spans persists its window relation


def test_repeated_spans_winnowing_is_alignment_invariant(spark):
    """Regression (review round 4): with stride>1, a repeated block
    planted at offsets differing by 1 (NOT stride-aligned) must still
    be detected in all carriers — winnowing selects content-defined
    min-hash windows, so both occurrences pick the same in-span
    fingerprints. Absolute-position sampling (pos % stride) missed
    this case entirely. Also: every doc's full-column row survives
    removal (no column dropped), and min_docs<2 raises."""
    import pytest as _pytest

    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    block = "A" * 30 + "shared boilerplate sentence used verbatim" + "B" * 30  # >= W+stride-1
    df = spark.createDataFrame(
        [
            (1, "x" + block + "unique-one " * 3, "src0"),
            (2, "yz" + block + "unique-two " * 3, "src1"),  # offset differs by 1
            (3, "totally unrelated content without the block at all here", "src2"),
        ],
        ["doc_id", "text", "source"],
    )
    got = repeated_spans(df, "doc_id", "text", window=50, stride=8).collect()
    assert {r.doc_id for r in got} == {1, 2}, got
    out = remove_repeated_spans(df, "doc_id", "text", window=50, stride=8)
    assert set(out.columns) == {"doc_id", "text", "source"}  # columns preserved
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[3].text.startswith("totally unrelated")
    assert len(rows[1].text) < len("x" + block + "unique-one " * 3)  # something cut
    with _pytest.raises(ValueError):
        repeated_spans(df, "doc_id", "text", min_docs=1)
    spark.catalog.clearCache()


def test_repeated_spans_verify_defeats_karp_rabin_collision(spark):
    """Round-5 review item: polynomial hashing mod 2^64 has algebraic
    structure — the Prouhet–Thue–Morse sign pattern gives two DIFFERENT
    1024-char strings whose difference polynomial Π(x^2^i - 1) is
    divisible by 2^65 at ANY odd base, so their Karp-Rabin window
    hashes collide by construction. This test pins (a) the collision is
    real in _karp_rabin_window_hashes, and (b) the verify step
    re-groups candidates by actual substring bytes and refuses —
    collision cost is wasted verify work, never lost text."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        _karp_rabin_window_hashes,
        remove_repeated_spans,
        repeated_spans,
    )

    k = 10  # length 2^k = 1024; 2-adic valuation of the difference >= 65
    coeff = [(-1) ** (k - bin(j).count("1")) for j in range(1 << k)]
    a = "".join("b" if c > 0 else "a" for c in coeff)
    b = "".join("a" if c > 0 else "b" for c in coeff)
    assert a != b
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rk = _karp_rabin_window_hashes(1024)
    h = {r.doc_id: r.h[0] for r in df.select("doc_id", rk(F.col("text")).alias("h")).collect()}
    assert h[1] == h[2], "adversarial pair must collide (the premise of the test)"

    assert repeated_spans(df, "doc_id", "text", window=1024).count() == 0
    out = {r.doc_id: r.text for r in remove_repeated_spans(df, "doc_id", "text", window=1024).collect()}
    assert out == {1: a, 2: b}  # byte-identical survival
    spark.catalog.clearCache()


def test_capstone_span_dedup_removes_planted_cross_doc_block(spark, tmp_path):
    """Round-5 brief #3: span_dedup=True in the capstone cuts a planted
    cross-doc license block end-to-end — the carriers' n_tokens shrink
    by the block's token mass vs the span_dedup=False run, untouched
    unique docs keep identical n_tokens, and every persisted
    intermediate is released when the cache_scope exits."""
    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_training_set,
    )

    block = (
        "this is the exact shared license block and it is repeated "
        "verbatim in every carrier document of the corpus"
    )
    assert len(block) > 60
    fill = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu anchor basket candle dome",
    ]
    stop = "it is a good day to read and the work of people in town "
    rows = []
    for i in range(1, 30):
        body = stop + fill[i % 3] + f" marker{i} " + stop + f" tail{i} ends here"
        if i in (1, 2, 3):
            # different offsets: prefix grows with i (alignment-invariance)
            body = stop + ("x" * i) + " " + block + " " + fill[i % 3] + f" marker{i}"
        rows.append((i, body, "en", f"src{i % 3}", len(body)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    try:
        spark.catalog.clearCache()
        with cache_scope():
            base = {
                r.doc_id: r.n_tokens
                for r in corpus_prepare_training_set(
                    spark, sf_dir, token_budget=100, near_dup="ngram"
                ).collect()
            }
        with cache_scope() as held:
            cut = {
                r.doc_id: r.n_tokens
                for r in corpus_prepare_training_set(
                    spark, sf_dir, token_budget=100, near_dup="ngram",
                    span_dedup=True,
                ).collect()
            }
        assert held, "capstone must register its persisted intermediates"
        # every persist the plan made, corpus_clean's included, is gone
        assert cache_manager_empty(spark)
        carriers = {1, 2, 3} & set(base) & set(cut)
        assert carriers, (sorted(base), sorted(cut))
        for i in carriers:
            # block mass gone (the whole block is > window chars, so
            # every carrier loses at least the block's tokens)
            assert cut[i] <= base[i] - len(block.split()) + 2, (i, base[i], cut[i])
        for i in set(base) & set(cut) - {1, 2, 3}:
            assert cut[i] == base[i], i  # unique docs untouched
    finally:
        spark.catalog.clearCache()


def test_minhash_incremental_state_equals_full_rerun(spark, tmp_path):
    """Round-5 brief #4: probing the persisted bucketed LSH state with
    an ingest batch yields EXACTLY the cross-corpus slice of a full
    minhash_lsh_pairs rerun on corpus ∪ batch — same pairs, same
    jaccard values. Then appending the batch into the state makes a
    second batch's dupes-of-the-first-batch visible without any corpus
    recompute. The probe/append take no banding parameters — they read
    (n, num_hashes, bands, num_buckets) from the meta table, so a
    mismatch is impossible by construction."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_state_append,
        minhash_state_write,
    )

    corpus = (
        load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 400)
    )
    # batch: near-copies of corpus docs (guaranteed cross pairs) + the
    # next id range of genuinely new docs
    batch = (
        corpus.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
        )
        .unionByName(
            load_table(spark, SF_CORRECT, "documents")
            .select("doc_id", "text")
            .filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 420))
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    state = "mh_state_t5"
    try:
        full = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                corpus.unionByName(batch), "doc_id", "text", threshold=0.5
            ).collect()
            # cross slice only: batch ids are all >= 100000, corpus below,
            # and minhash_lsh_pairs orients id_a < id_b
            if r.id_a < 100000 <= r.id_b
        }
        assert full, "planted near-copies must produce cross pairs"

        # non-default num_buckets: the meta row must carry it, or the
        # append below dies on Spark's bucket-spec mismatch (round-5
        # ADVICE medium item)
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=8,
            path=str(tmp_path / "state"),
        )
        inc = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                batch, "doc_id", "text", state, threshold=0.5
            ).collect()
        }
        assert inc == full

        # fold the batch in; a second batch duplicating a FIRST-BATCH doc
        # must now match it (id_a in the 100k range) with no corpus rescan
        minhash_state_append(batch, "doc_id", "text", state)
        batch2 = batch.filter(F.col("doc_id") == 100005).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        inc2 = minhash_lsh_pairs_incremental(
            batch2, "doc_id", "text", state, threshold=0.5
        ).collect()
        assert any(r.id_a == 100005 and r.id_b == 200005 for r in inc2), inc2
    finally:
        for t in (f"{state}_bands", f"{state}_shingles", f"{state}_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.catalog.clearCache()


def test_minhash_state_delete_tombstones_probe_and_compaction(spark, tmp_path):
    """Round-6 brief #3 — state-lifecycle deletion: after
    minhash_state_delete(ids), the incremental probe must return
    EXACTLY what it would against a state rebuilt without those docs,
    both BEFORE compaction (tombstone anti-join on the candidate set)
    and AFTER (physical removal + cleared tombstones); a second
    compaction with no tombstones is a pure rewrite."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_state_compact,
        minhash_state_delete,
        minhash_state_write,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 200)
    probe = corpus.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    state, ref_state = "mh_state_del", "mh_state_del_ref"
    tables = lambda s: (f"{s}_bands", f"{s}_shingles", f"{s}_meta", f"{s}_tombstones")  # noqa: E731

    def probe_pairs(st):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                probe, "doc_id", "text", st, threshold=0.5
            ).collect()
        }

    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state"),
        )
        full = probe_pairs(state)
        deleted = [r.doc_id for r in corpus.filter(F.col("doc_id") % 3 == 0).collect()]
        assert any(a in deleted for a, _, _ in full), "fixture must delete some matches"
        # ground truth: a state that never contained the deleted docs
        minhash_state_write(
            corpus.filter(~F.col("doc_id").isin(deleted)),
            "doc_id", "text", ref_state, num_buckets=4,
            path=str(tmp_path / "ref_state"),
        )
        want = probe_pairs(ref_state)
        assert want < full

        minhash_state_delete(spark, state, deleted)
        assert probe_pairs(state) == want  # tombstone path (pre-compaction)
        # idempotent: a repeat delete (DataFrame form) changes nothing
        minhash_state_delete(
            spark, state, spark.createDataFrame([(d,) for d in deleted[:5]], ["id"])
        )
        assert probe_pairs(state) == want
        minhash_state_delete(spark, state, [])  # empty delete: a no-op
        assert probe_pairs(state) == want

        minhash_state_compact(spark, state)
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        assert probe_pairs(state) == want  # physical-removal path
        # deleted ids are truly gone from the data tables
        got_ids = {r.id for r in spark.table(f"{state}_shingles").select("id").collect()}
        assert got_ids.isdisjoint(set(deleted))
        # tombstone-free compaction still works (pure rewrite)
        minhash_state_compact(spark, state)
        assert probe_pairs(state) == want
    finally:
        for t in tables(state) + tables(ref_state):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.catalog.clearCache()


def test_minhash_state_delete_rejects_uncastable_ids(spark, tmp_path):
    """Round-7 ADVICE: an id that doesn't cast to the state's id type
    (e.g. a non-numeric string against a long id column) used to become
    NULL — and NULL never matches the probe's anti-join or the
    compaction filter, so the takedown was silently a no-op. It must
    raise instead, and write no tombstones for the failed call."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_state_delete,
        minhash_state_write,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    state = "mh_state_badcast"
    try:
        minhash_state_write(
            docs.filter(F.col("doc_id") < 20), "doc_id", "text", state,
            num_buckets=2, path=str(tmp_path / "state"),
        )
        with pytest.raises(ValueError, match="do not cast"):
            minhash_state_delete(spark, state, ["takedown-req-123", "5"])
        # the failed call left nothing half-written
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        # losslessly-castable ids are still accepted (numeric string -> long)
        minhash_state_delete(spark, state, ["5"])
        assert {r.id for r in spark.table(f"{state}_tombstones").collect()} == {5}
    finally:
        for t in ("bands", "shingles", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_state_compact_failure_releases_snapshot_keeps_tombstones(
    spark, tmp_path, monkeypatch
):
    """A compaction whose table rewrite raises must release its
    persisted tombstone-id snapshot (it used to stay cached for the
    session) and keep ``{state}_tombstones``: the deletions are still
    pending, and the next compaction applies them."""
    from hadoop_20_warehouse_fix_spark.operators import dedup
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_state_compact,
        minhash_state_delete,
        minhash_state_write,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    state = "mh_state_cmp_fail"
    try:
        minhash_state_write(
            docs.filter(F.col("doc_id") < 20), "doc_id", "text", state,
            num_buckets=2, path=str(tmp_path / "state"),
        )
        minhash_state_delete(spark, state, [3])
        spark.catalog.clearCache()

        def failing_rewrite(*args, **kwargs):
            raise RuntimeError("rewrite failed")

        monkeypatch.setattr(dedup, "compact_bucketed_table", failing_rewrite)
        with pytest.raises(RuntimeError, match="rewrite failed"):
            minhash_state_compact(spark, state)
        assert cache_manager_empty(spark)
        assert spark.catalog.tableExists(f"{state}_tombstones")
        monkeypatch.undo()
        minhash_state_compact(spark, state)
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        assert spark.table(f"{state}_bands").filter(F.col("id") == 3).count() == 0
        assert cache_manager_empty(spark)
    finally:
        for t in ("bands", "shingles", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_minhash_state_compact_preserves_probe_and_drops_files(spark, tmp_path):
    """Round-5 brief #5: repeated appends accumulate one file set per
    batch per bucket; compaction rewrites each state table to ~one file
    per bucket, preserving the bucket spec — probe results are
    IDENTICAL before and after, and the data-file count strictly
    drops."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_state_append,
        minhash_state_compact,
        minhash_state_write,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 200)
    state = "mh_state_cmp"
    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state"),
        )
        for gen in (1, 2, 3):  # three daily ingests -> 4 file sets per table
            batch = docs.filter(
                (F.col("doc_id") >= 200 + 50 * (gen - 1))
                & (F.col("doc_id") < 200 + 50 * gen)
            ).select((F.col("doc_id") + 1000 * gen).alias("doc_id"), "text")
            minhash_state_append(batch, "doc_id", "text", state)
        probe = corpus.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
        before = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                probe, "doc_id", "text", state, threshold=0.5
            ).collect()
        }
        assert before, "self-copies must match the state"
        report = minhash_state_compact(spark, state)
        for t, (n_before, n_after) in report.items():
            assert n_after < n_before, (t, report)
            assert n_after <= 4, (t, report)  # ~one file per bucket
        after = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                probe, "doc_id", "text", state, threshold=0.5
            ).collect()
        }
        assert after == before
        # the state remains appendable post-compaction (bucket spec kept)
        minhash_state_append(
            probe.select((F.col("doc_id") + 1).alias("doc_id"), "text"),
            "doc_id", "text", state,
        )
        # round-7: a SECOND compaction must ping-pong between the two
        # stable locations (__a <-> __b), not grow the path, and still
        # return identical probe results
        from hadoop_20_warehouse_fix_spark.operators.dedup import _table_location

        loc1 = _table_location(spark, f"{state}_bands")
        minhash_state_compact(spark, state)
        loc2 = _table_location(spark, f"{state}_bands")
        assert loc1 != loc2
        assert loc1.rstrip("/").endswith("__a") and loc2.rstrip("/").endswith("__b")
        assert "__compacting" not in loc2
        again = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs_incremental(
                probe, "doc_id", "text", state, threshold=0.5
            ).collect()
        }
        # the post-compaction append added self-copies, so the second
        # probe sees every original pair plus the new (id+1) matches
        assert before <= again and len(again) > len(before)
    finally:
        for t in (f"{state}_bands", f"{state}_shingles", f"{state}_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.catalog.clearCache()


def test_minhash_state_rebuild_clears_tombstones_and_lossy_numeric_delete(spark, tmp_path):
    """Round-8 review pair: (a) rebuilding a state under a reused name
    must not inherit the old state's tombstones (they would suppress —
    then physically delete — valid docs of the fresh state); (b) a
    TRUNCATING numeric id (5.7 as double -> long 5) must fail the
    delete loudly, not tombstone the wrong doc."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_state_delete,
        minhash_state_write,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    probe = corpus.select((F.col("doc_id") + 900000).alias("doc_id"), "text")
    state = "mh_state_rebuild"

    def hits(st):
        return {
            r.id_a
            for r in minhash_lsh_pairs_incremental(
                probe, "doc_id", "text", st, threshold=0.99
            ).collect()
        }

    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "s1"),
        )
        full = hits(state)
        victim = sorted(full)[0]
        minhash_state_delete(spark, state, [victim])
        assert victim not in hits(state)
        # rebuild same name: the tombstone must NOT survive
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "s2"),
        )
        assert hits(state) == full
        # truncating numeric cast refuses loudly
        bad = spark.createDataFrame([(5.7,)], ["id"])
        with pytest.raises(ValueError, match="LOSSLESSLY"):
            minhash_state_delete(spark, state, bad)
    finally:
        for t in ("bands", "shingles", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_lossy_cast_guard_is_by_value_not_format(spark):
    """Second-pass review: a zero-padded string id ("007" vs a long
    column) round-trips to a DIFFERENT string but the SAME value — it
    must delete fine; truncating numerics must still refuse."""
    from pyspark.sql.types import LongType, StringType

    from hadoop_20_warehouse_fix_spark.operators.dedup import _lossy_cast_count

    strings = spark.createDataFrame([("007",), ("5",)], ["id"])
    assert _lossy_cast_count(strings, LongType()) == 0
    doubles = spark.createDataFrame([(5.7,), (3.0,)], ["id"])
    assert _lossy_cast_count(doubles, LongType()) == 1  # only 5.7
    bad = spark.createDataFrame([("takedown-123",)], ["id"])
    assert _lossy_cast_count(bad, LongType()) == 1
    same = spark.createDataFrame([("alpha",), ("007",)], ["id"])
    assert _lossy_cast_count(same, StringType()) == 0  # identity casts
    # Round-8 ADVICE: NULL ids count as lossy — a NULL tombstone
    # anti-joins NOTHING, so the delete would silently no-op.
    with_null = spark.createDataFrame(
        [(n,) for n in ("9", None, "11")], schema="id string"
    )
    assert _lossy_cast_count(with_null, LongType()) == 1
    assert _lossy_cast_count(with_null, StringType()) == 1  # even identity
