"""Edge cases for corpus-level operators (the sf-corpus oracle
comparison runs via test_queries_oracle; these cover degenerate
inputs the synthetic corpus doesn't produce)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kudu_spark.operators import corpus as CP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_repetition_single_word_doc(spark):
    docs = _docs(spark, [(1, "hello", "en"), (2, "a a a a b", "en")])
    got = {r["doc_id"]: r.asDict() for r in CP.repetition_stats(docs).collect()}
    # single word: no bigrams -> filled 0; one distinct of one token
    assert got[1]["top_2gram_ratio"] == 0.0
    assert got[1]["dup_word_ratio"] == 0.0
    assert got[1]["top_token_ratio"] == 1.0
    # 'a' 4/5 of tokens; 'a a' 3/4 of bigrams
    assert got[2]["top_token_ratio"] == 0.8
    assert got[2]["top_2gram_ratio"] == 0.75
    assert got[2]["dup_word_ratio"] == 0.6  # 2 distinct / 5 tokens


def test_decontaminate_drops_only_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta", "en")])
    train = _docs(
        spark,
        [
            (1, "alpha beta gamma totally different tail", "en"),  # shares shingle
            (2, "entirely unrelated words here now", "en"),
            (3, "xx", "en"),  # too short for any shingle
        ],
    )
    kept = sorted(r["doc_id"] for r in CP.decontaminate(train, bench).collect())
    assert kept == [2, 3]


def test_stratified_sample_quota_and_determinism(spark):
    rows = [(i, f"text number {i}", "en" if i % 2 else "de") for i in range(20)]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, CP.stratified_sample(docs, "lang", 3).collect()))
    b = sorted(map(tuple, CP.stratified_sample(docs, "lang", 3).collect()))
    assert a == b  # deterministic
    per = {}
    for _, lang in a:
        per[lang] = per.get(lang, 0) + 1
    assert per == {"en": 3, "de": 3}


def test_domain_mix_small_domain_floor(spark):
    rows = [(i, f"doc {i} body", "big") for i in range(50)] + [
        (100, "rare domain doc", "tiny")
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = CP.domain_mix(docs, "source", total_target=10, alpha=0.5).collect()
    domains = {r["source"] for r in out}
    assert "tiny" in domains  # greatest(1, ...) floor keeps every domain represented


def test_vocabulary_rank_ties_deterministic(spark):
    docs = _docs(spark, [(1, "b a b a c", "en")])
    out = [(r["token"], r["freq"], r["rank"]) for r in
           CP.vocabulary_topk(docs, 3).orderBy("rank").collect()]
    assert out == [("a", 2, 1), ("b", 2, 2), ("c", 1, 3)]


def test_line_dedup_first_occurrence_and_min_len(spark):
    """Corpus-wide line dedup: first (doc_id, pos) occurrence wins,
    short lines bypass, fully-deduped docs drop out, surviving lines
    keep their original order."""
    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared boilerplate line\nbeta"),
            (2, "shared boilerplate line\ngamma\nshared boilerplate line"),
            (3, "shared boilerplate line"),
            (4, "x\ny"),  # short lines: always kept
            (5, "x\nalpha"),  # "alpha" duplicates doc 1's — dropped; "x" kept (short)
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.text for r in CP.line_dedup(docs, min_len=3).collect()}
    assert got == {
        1: "alpha\nshared boilerplate line\nbeta",
        2: "gamma",
        4: "x\ny",
        5: "x",
    }  # doc 3 lost its only line and disappears


def test_line_dedup_matches_duckdb_oracle(spark):
    """Value-level DuckDB comparison on multi-line constructed docs
    (the driver corpus is single-line, so the oracle runs here)."""
    import random

    import duckdb

    rng = random.Random(5)
    vocab = ["the quick fox", "lorem ipsum dolor", "shared line",
             "boilerplate footer text", "abc", ""]
    rows = []
    for d in range(40):
        lines = [rng.choice(vocab) + (f" {rng.randrange(4)}" if rng.random() < 0.5 else "")
                 for _ in range(rng.randint(1, 6))]
        rows.append((d, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.text) for r in CP.line_dedup(docs, min_len=4).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.execute(CP.line_dedup_sql(min_len=4)).fetchall()))
    assert got == want


def test_vocabulary_topk_plans_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (per-
    partition k-row heaps, k-row driver merge) — NOT a row_number
    window with no partition key, which funnels every distinct token
    (billions at web scale) through one task. The residual rank window
    runs over the k survivors only."""
    docs = _docs(spark, [(i, f"tok{i} common word", "en") for i in range(50)])
    df = CP.vocabulary_topk(docs, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # no single-partition exchange BEFORE the top-k cut: the only
    # SinglePartition may feed the k-row rank window, never the full
    # token count stream
    pre_topk = plan.split("TakeOrderedAndProject", 1)[1]
    assert "Exchange SinglePartition" not in pre_topk


def test_token_budget_sample_monotone_and_exact(spark):
    from kudu_spark.operators.corpus import token_budget_sample

    docs = _docs(spark, [(i, " ".join(f"w{i}_{j}" for j in range(10)), "en")
                         for i in range(20)])  # 10 tokens each
    small = {r.doc_id for r in token_budget_sample(docs, 35).collect()}
    big = {r.doc_id for r in token_budget_sample(docs, 85).collect()}
    # budget 35 with 10-token docs: exactly 3 docs fit (30 <= 35 < 40)
    assert len(small) == 3 and len(big) == 8
    assert small <= big  # monotone: larger budget is a superset
    # per-stratum budgets are independent
    mixed = _docs(spark, [(i, " ".join(["x"] * 10), "en" if i % 2 else "de")
                          for i in range(10)])
    per = token_budget_sample(mixed, 25, stratum_col="lang").collect()
    by_lang = {}
    for r in per:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert {len(v) for v in by_lang.values()} == {2}  # 2 docs of 10 per lang


def test_substring_dedup_keeps_first_cuts_rest(spark):
    from kudu_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame([
        ("d1", "a b c d e f g h i j"),
        ("d2", "a b c d e f g h i j"),          # exact dup: fully cut
        ("d3", "x y z q w e r t y u"),          # unique: untouched
        ("d4", "z1 z2 a b c d e f g h i j z3"),  # embedded dup span cut
        ("d5", "s t"),                           # shorter than k: untouched
    ], "doc_id string, text string")
    out = {r.doc_id: (r.clean_text, r.removed_tokens, r.n_spans)
           for r in substring_dedup(docs, min_tokens=3).collect()}
    assert out["d1"] == ("a b c d e f g h i j", 0, 0)  # first occurrence survives
    assert out["d2"] == ("", 10, 1)
    assert out["d3"][1] == 0
    assert out["d4"] == ("z1 z2 z3", 10, 1)
    assert out["d5"] == ("s t", 0, 0)


def test_substring_dedup_merges_adjacent_spans(spark):
    from kudu_spark.operators.dedup import substring_dedup

    # two duplicated regions separated by a unique token: two spans;
    # back-to-back duplicated regions: one merged span
    docs = spark.createDataFrame([
        ("a1", "p q r s"), ("a2", "t u v w"),
        ("b", "p q r s GAP t u v w"),
        ("c", "p q r s t u v w"),
    ], "doc_id string, text string")
    out = {r.doc_id: (r.clean_text, r.n_spans)
           for r in substring_dedup(docs, min_tokens=4).collect()}
    assert out["b"] == ("GAP", 2)
    assert out["c"] == ("", 1)  # contiguous cover merges into one span


def test_chunk_documents_windows_and_overlap(spark):
    from kudu_spark.operators.corpus import chunk_documents

    docs = _docs(spark, [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", "en"),
                         (2, "a b", "en")])
    got = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
           for r in chunk_documents(docs, chunk_tokens=4).collect()}
    assert got[(1, 0)] == ("t1 t2 t3 t4", 4)
    assert got[(1, 1)] == ("t5 t6 t7 t8", 4)
    assert got[(1, 2)] == ("t9 t10", 2)  # short tail kept
    assert got[(2, 0)] == ("a b", 2)     # doc shorter than a chunk
    assert len(got) == 4
    # overlap: windows start every (chunk - overlap) tokens
    ov = {(r.doc_id, r.chunk_id): r.chunk_text
          for r in chunk_documents(docs, chunk_tokens=4, overlap_tokens=1).collect()}
    assert ov[(1, 0)] == "t1 t2 t3 t4"
    assert ov[(1, 1)] == "t4 t5 t6 t7"
    assert ov[(1, 2)] == "t7 t8 t9 t10"
    assert (1, 3) not in ov  # no redundant fully-contained tail


def test_split_assign_properties(spark):
    from kudu_spark.operators.corpus import split_assign

    docs = _docs(spark, [(i, f"document body {i} with words", "en")
                         for i in range(500)] + [(900, "document body 7 with words", "en")])
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a1 = {r.doc_id: r.split for r in split_assign(docs, w).collect()}
    a2 = {r.doc_id: r.split for r in
          split_assign(docs.repartition(7), w).collect()}
    assert a1 == a2  # partitioning-independent
    # exact duplicate content -> same split (doc 900 duplicates doc 7)
    assert a1[900] == a1[7]
    # rough proportions at n=501
    from collections import Counter

    c = Counter(a1.values())
    assert c["train"] > 300 and c["val"] > 10 and c["test"] > 10
    # growth stability: assignments of the original docs are unchanged
    # when new docs arrive
    more = _docs(spark, [(1000 + i, f"fresh doc {i}", "en") for i in range(50)])
    a3 = {r.doc_id: r.split
          for r in split_assign(docs.unionByName(more), w).collect()}
    assert all(a3[k] == v for k, v in a1.items())
    # salt derives an independent re-split
    a4 = {r.doc_id: r.split for r in split_assign(docs, w, salt="v2").collect()}
    assert a4 != a1


def test_training_order_properties(spark):
    """Deterministic shuffle order: same (seed, epoch) reproduces the
    exact permutation regardless of input partitioning; a different
    epoch is a different permutation; the frame is globally ordered by
    shuffle_key across its range partitions."""
    from kudu_spark.operators.corpus import training_order

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(500)], "doc_id bigint, text string"
    )
    def order_of(df, **kw):
        out = training_order(df, seed="s", **kw)
        parts = out.select("doc_id", "shuffle_key").rdd.glom().map(
            lambda rows: [(r["doc_id"], r["shuffle_key"]) for r in rows]
        ).collect()
        flat = [x for p in parts for x in p]
        # within+across partition order = global key order
        assert [k for _, k in flat] == sorted(k for _, k in flat)
        return [d for d, _ in flat]

    o1 = order_of(docs, epoch=0)
    o2 = order_of(docs.repartition(13), epoch=0)  # partitioning-independent
    assert o1 == o2
    o3 = order_of(docs, epoch=1)
    assert o3 != o1 and sorted(o3) == sorted(o1)


def test_ngram_lm_score_properties(spark):
    """CCNet-shape LM scoring: in-distribution text scores above
    out-of-distribution junk; docs shorter than n drop out; an
    external model penalizes unseen n-grams through smoothing."""
    import math

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river"),
         (2, "the lazy dog sleeps near the quick brown fox by the river"),
         (3, "zzqx jjkw vvpq xqzj wkjj qpvv zzqx jjkw"),  # OOD junk
         (4, "ab")],  # shorter than n=3: no n-grams
        "doc_id bigint, text string")
    got = {r.doc_id: r.lm_score
           for r in CP.ngram_lm_score(docs, n=3).collect()}
    assert 4 not in got and set(got) == {1, 2, 3}
    assert got[1] > got[3] and got[2] > got[3]
    # external model: doc 3's n-grams are unseen -> pure smoothing
    # floor ln(1/(N+V)), strictly below every in-model doc
    model = docs.where("doc_id IN (1, 2)")
    got2 = {r.doc_id: r.lm_score
            for r in CP.ngram_lm_score(docs, n=3, model_docs=model).collect()}
    assert got2[3] < got2[1] and got2[3] < got2[2]
    assert all(v < 0 for v in got2.values())  # log-probs
    assert not math.isnan(got2[3])


def test_quality_buckets_thirds_and_ties(spark):
    """Bucket rule: exact cumulative thirds over the score histogram,
    ties share a bucket (boundary-straddling scores fall to the worse
    one), head = best scores."""
    scored = spark.createDataFrame(
        [(i, float(-i)) for i in range(1, 10)], "doc_id bigint, lm_score double")
    got = {r.doc_id: r.bucket for r in CP.quality_buckets(scored).collect()}
    assert got == {1: "head", 2: "head", 3: "head",
                   4: "middle", 5: "middle", 6: "middle",
                   7: "tail", 8: "tail", 9: "tail"}
    # one dominant tied score straddles every cutoff -> everyone tail
    tied = spark.createDataFrame(
        [(i, -1.0) for i in range(6)] + [(9, -9.0)],
        "doc_id bigint, lm_score double")
    got2 = {r.doc_id: r.bucket for r in CP.quality_buckets(tied).collect()}
    assert set(got2.values()) == {"tail"}


def test_quality_buckets_guards_unbounded_histogram(spark, monkeypatch):
    """VERDICT r9 minor #2: an effectively-unrounded score column must
    raise loudly instead of collecting a corpus-sized histogram on the
    driver (the cap is monkeypatched tiny to keep the test cheap)."""
    from kudu_spark.errors import KuduSparkError

    monkeypatch.setattr(CP, "QUALITY_HIST_MAX_DISTINCT", 8)
    scored = spark.createDataFrame(
        [(i, float(i) + 0.123456789 * i) for i in range(50)],
        "doc_id bigint, lm_score double")
    with pytest.raises(KuduSparkError, match="distinct"):
        CP.quality_buckets(scored)
    # rounded input stays under the cap and buckets fine
    ok = CP.quality_buckets(
        scored.select("doc_id", F.round(F.col("lm_score") / 10, 0).alias("lm_score")))
    assert ok.count() == 50


def test_tfidf_top_terms_rank_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple banana", "a"), (2, "apple cherry", "b"),
         (3, "cherry cherry cherry", "b")],
        "doc_id bigint, text string, source string")
    got = CP.tfidf_top_terms(docs, k=2).collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.source, []).append((r.rank, r.term))
    assert all(len(v) <= 2 for v in by_grp.values())
    # "apple" appears in both groups (low idf); "banana" only in a
    a_terms = [t for _, t in sorted(by_grp["a"])]
    assert a_terms[0] in ("apple", "banana")  # tf=2 apple vs idf-boosted banana
    # ranks are 1..k, deterministic
    assert [r for r, _ in sorted(by_grp["b"])] == [1, 2]


def test_word_pair_pmi_min_count_and_short_docs(spark):
    rows = [(i, "new york is big", "en") for i in range(5)]
    rows += [(100 + i, "word", "en") for i in range(3)]       # 1-token: no pairs
    rows += [(200, "", "en")]                                  # empty
    docs = _docs(spark, rows)
    got = CP.word_pair_pmi(docs, k=10, min_count=5).collect()
    pairs = {(r.w1, r.w2): r.pair_count for r in got}
    assert pairs[("new", "york")] == 5
    assert all(c >= 5 for c in pairs.values())
    # collocation beats generic adjacency: (new, york) is the top PMI
    top = max(got, key=lambda r: (r.pmi, ))
    assert (top.w1, top.w2) == ("new", "york") or top.pmi == got[0].pmi


def test_word_pair_pmi_plans_take_ordered(spark):
    docs = _docs(spark, [(i, "a b c d e", "en") for i in range(30)])
    plan = CP.word_pair_pmi(docs, k=5, min_count=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sentence_stats_edges(spark):
    docs = spark.createDataFrame(
        [(1, "One two. Three four five! Six?"),
         (2, "no terminal punctuation at all"),
         (3, ""),
         (4, "...")],
        "doc_id bigint, text string")
    got = {r.doc_id: r.asDict() for r in CP.sentence_stats(docs).collect()}
    assert got[1]["n_sentences"] == 3
    assert got[1]["max_sentence_chars"] == len("Three four five")
    assert got[2]["n_sentences"] == 1  # whole doc = one unterminated sentence
    assert got[3]["n_sentences"] == 0
    assert got[3]["avg_sentence_chars"] == 0.0
    assert got[4]["n_sentences"] == 0  # punctuation-only: no sentences


def test_tfidf_plans_window_group_limit(spark):
    """The per-group top-k must plan as WindowGroupLimit (per-partition
    k-row heaps per group), and sentence_stats must add ZERO exchanges
    beyond the scan."""
    docs = spark.createDataFrame(
        [(i, f"tok{i} word", "s%d" % (i % 3)) for i in range(30)],
        "doc_id bigint, text string, source string")
    plan = CP.tfidf_top_terms(docs, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    p2 = CP.sentence_stats(docs.selectExpr("doc_id", "text")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p2


def test_exact_dedup_keep_best_picks_best_not_first(spark):
    from kudu_spark.operators.dedup import exact_dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "same text", 0.2), (2, "same text", 0.9), (3, "same text", 0.9),
         (4, "unique", 0.1)],
        "doc_id bigint, text string, score double")
    got = {r.doc_id: r.score for r in
           exact_dedup_keep_best(docs, "score").collect()}
    # best score wins; score tie breaks to the LOWEST id; uniques kept
    assert got == {2: 0.9, 4: 0.1}
    plan = exact_dedup_keep_best(docs, "score") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # skew-safe keep-one


def test_contamination_report_fractions(spark):
    from kudu_spark.operators.dedup import contamination_report

    bench = _docs(spark, [(100, "alpha beta gamma delta", "en")])
    train = _docs(spark, [
        (1, "alpha beta gamma tail one two", "en"),  # 1 of 4 shingles hit
        (2, "zero overlap with anything here", "en"),
        (3, "xx", "en"),  # too short for shingles: absent from report
    ])
    got = {r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination)
           for r in contamination_report(train, bench).collect()}
    assert got[1] == (4, 1, 0.25)
    assert got[2][1] == 0 and got[2][2] == 0.0
    assert 3 not in got


def test_ngram_containment_catches_embedded_doc(spark):
    """The asymmetric case Jaccard misses: a short doc fully embedded
    in a much longer one — containment of the short side ≈ 1 while
    Jaccard sits far below any dedup threshold."""
    from kudu_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = ("intro words here " + short
            + " plus a very long unique tail " +
            " ".join(f"tail{i}" for i in range(40)))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "completely unrelated text body")],
        "doc_id bigint, text string")
    got = {(r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
           for r in ngram_containment_pairs(docs, threshold=0.8).collect()}
    assert (1, 2) in got
    assert got[(1, 2)][0] == 1.0  # every shingle of the short doc is in the long
    assert got[(1, 2)][1] < 0.2
    # symmetric Jaccard at the same threshold finds nothing
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_ngram_hot_shingle_capped_before_collect(spark):
    """Pin the max_shingle_freq boundary of the r15 pre-collect guard
    (_rare_shingle_parts): a shingle in MORE than max_shingle_freq
    docs is dropped from candidates AND sizes before any posting list
    materializes, one in EXACTLY max_shingle_freq docs is kept — the
    same kept-bucket set as the former size()-post-filter — and the
    surviving Jaccard values match a brute-force reference over the
    capped shingle space."""
    import math

    from kudu_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the "hot stop word" trigram (4 docs > cap=3);
    # docs 1-3 also share "rare shared gram" (== cap, kept); unique
    # u{i}* bridge tokens keep every other trigram doc-private
    texts = {
        i: (f"u{i}a u{i}b hot stop word u{i}c u{i}d"
            + (f" u{i}e rare shared gram u{i}f" if i <= 3 else ""))
        for i in range(1, 5)
    }
    docs = _docs(spark, [(i, t, "en") for i, t in texts.items()])
    cap = 3

    # brute-force reference with the operator's documented semantics
    def grams(t):
        w = t.split(" ")
        return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

    gsets = {i: grams(t) for i, t in texts.items()}
    freq = {}
    for g in (g for s in gsets.values() for g in s):
        freq[g] = freq.get(g, 0) + 1
    rare = {i: {g for g in s if freq[g] <= cap} for i, s in gsets.items()}
    want = {}
    for a in rare:
        for b in rare:
            if a < b and rare[a] & rare[b]:
                j = len(rare[a] & rare[b]) / len(rare[a] | rare[b])
                want[(a, b)] = math.floor(j * 10000.0 + 0.5) / 10000.0

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(
               docs, threshold=0.01, max_shingle_freq=cap).collect()}
    assert got == want
    # the hot shingle alone linked doc 4 to everything: its exclusion
    # must leave doc 4 pairless while the ==cap shingle still pairs 1-3
    assert set(got) == {(1, 2), (1, 3), (2, 3)}


def test_simhash_pairs_match_reference_banding(spark):
    """Pin simhash_pairs' grouped pair generation (r14: bucket
    collect + nested-transform expansion replaced the banded
    self-join) against a Python recomputation from the
    oracle-verified simhash values: every pair agreeing on >= 1 of
    the 4 15-bit bands (SIMHASH_BITS=60) with hamming <= max_hamming,
    and nothing else."""
    from itertools import combinations

    from kudu_spark.operators.dedup import simhash, simhash_pairs
    from kudu_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    max_h = 10  # loose enough that both filters (band + hamming) bite
    expected = {}
    for a, b in combinations(sorted(sigs), 2):
        x = sigs[a] ^ sigs[b]
        if bin(x).count("1") > max_h:
            continue
        if any((x >> (q * 15)) & 0x7FFF == 0 for q in range(4)):
            expected[(a, b)] = bin(x).count("1")
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_pairs(docs, max_hamming=max_h).collect()}
    assert got == expected


def test_duplicate_components_checkpoint_dir_only_for_local_masters(spark, monkeypatch):
    """duplicate_components provisions a driver-local reliable
    checkpoint dir only under a ``local[...]`` master. On any other
    master a driver-local path is not shared with the executors, so
    with no checkpoint dir configured the edge set falls back to
    ``localCheckpoint(eager=True)``."""
    from kudu_spark.operators import dedup as DD

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    saved = jsc.getCheckpointDir()
    set_ckpt_dir = getattr(jsc, "checkpointDir_$eq")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint")
    frame = type(pairs)
    calls = []
    orig_local, orig_reliable = frame.localCheckpoint, frame.checkpoint

    def spy(kind, orig):
        def run(self, eager=True):
            calls.append(kind)
            return orig(self, eager)
        return run

    monkeypatch.setattr(frame, "localCheckpoint", spy("local", orig_local))
    monkeypatch.setattr(frame, "checkpoint", spy("reliable", orig_reliable))
    want = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    try:
        set_ckpt_dir(sc._jvm.scala.Option.empty())  # no checkpoint dir configured
        monkeypatch.setattr(sc, "master", "spark://cluster:7077")
        got = {r.doc_id: r.component_id for r in DD.duplicate_components(pairs).collect()}
        assert got == want
        assert calls == ["local"]
        assert jsc.getCheckpointDir().isEmpty(), "no driver-local dir on a cluster master"

        monkeypatch.setattr(sc, "master", "local[2]")
        got = {r.doc_id: r.component_id for r in DD.duplicate_components(pairs).collect()}
        assert got == want
        assert calls == ["local", "reliable"]
        assert not jsc.getCheckpointDir().isEmpty()
    finally:
        set_ckpt_dir(saved)
