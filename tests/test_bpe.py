"""BPE trainer: kernel goldens + Spark-surface behavior.

The greedy-merge kernel is pinned against the classic left-to-right scan
(Sennrich et al. 2016 semantics) including the run cases the SQL oracle
resolves via gaps-and-islands; the trainer is pinned against a
hand-computed corpus and a pure-Python reference trainer."""

import pytest


def _ref_train(word_freqs: dict, n_merges: int):
    """Straight-line reference BPE trainer (dict-of-words, no Spark)."""
    from palladian_spark.operators.bpe import _greedy_merge

    words = {w: (list(w), f) for w, f in word_freqs.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict = {}
        for toks, f in words.values():
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        words = {
            w: (_greedy_merge(toks, left, right), f)
            for w, (toks, f) in words.items()
        }
    return merges, words


def test_greedy_merge_kernel():
    from palladian_spark.operators.bpe import _greedy_merge

    # plain pair
    assert _greedy_merge(list("abab"), "a", "b") == ["ab", "ab"]
    # run of identical tokens: every other position (greedy resumes AFTER
    # the merged token)
    assert _greedy_merge(list("aaa"), "a", "a") == ["aa", "a"]
    assert _greedy_merge(list("aaaa"), "a", "a") == ["aa", "aa"]
    assert _greedy_merge(list("aaaaa"), "a", "a") == ["aa", "aa", "a"]
    # overlapping l!=r candidates cannot exist, but adjacent independent
    # matches must both fire
    assert _greedy_merge(list("abab"), "b", "a") == ["a", "ba", "b"]
    # no match
    assert _greedy_merge(list("xyz"), "a", "b") == ["x", "y", "z"]
    # multi-char tokens
    assert _greedy_merge(["ab", "c", "ab", "c"], "ab", "c") == ["abc", "abc"]


def test_bpe_merges_hand_computed_corpus(spark):
    """aaa(x2), bab, aaab, the(x2), cat — hand-traced merge sequence:
    (a,a):6 -> (aa,a):3 -> (h,e):2 [lexicographic tie over (t,h)] ->
    (t,he):2."""
    from palladian_spark.operators.bpe import bpe_merges, bpe_token_counts

    docs = spark.createDataFrame(
        [(1, "aaa bab"), (2, "aaab aaa"), (3, "the cat the")],
        ["doc_id", "text"],
    )
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(docs, n_merges=4).collect()
    ]
    assert got == [(1, "a", "a", 6), (2, "aa", "a", 3), (3, "h", "e", 2), (4, "t", "he", 2)]

    counts = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, n_merges=4).collect()
    }
    # aaa->[aaa](1), bab->[b,a,b](3), aaab->[aaa,b](2), the->[the](1), cat(3)
    assert counts == {1: (2, 4), 2: (2, 3), 3: (3, 5)}


def test_bpe_matches_reference_trainer(spark):
    """12-round agreement with the pure-Python reference trainer on a
    messier corpus (numbers/punctuation stripped by the [a-z]+ word rule,
    ties, deep merge chains)."""
    from palladian_spark.operators.bpe import bpe_merges

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quicker the better, 42 times over!",
        "lowering lower lowest low low low",
        "newer newest new news newer",
        "aaaa aaa aa a baaa",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(docs, n_merges=12).collect()
    ]

    freqs: dict = {}
    import re

    for t in texts:
        for w in re.findall("[a-z]+", t):
            freqs[w] = freqs.get(w, 0) + 1
    want, _ = _ref_train(freqs, 12)
    assert got == want


def test_bpe_train_checkpoint_resume(spark, tmp_path):
    """The word-frequency table (the only corpus-sized work) is a
    resumable stage: a 3-round run leaves a store a later 6-round run
    trains on WITHOUT rescanning the corpus (pinned by poisoning the
    input — the vocabulary must come from the manifest, not the corpus),
    and the result equals a fresh 6-round run exactly."""
    from palladian_spark.operators.bpe import bpe_train
    from palladian_spark.sources.checkpoint import StageStore

    docs = spark.createDataFrame(
        [(1, "lowering lower lowest low low"), (2, "newer newest new news")],
        ["doc_id", "text"],
    )
    store = StageStore(spark, str(tmp_path / "bpe"))
    m3, _ = bpe_train(docs, n_merges=3, store=store)
    assert len(m3) == 3

    poisoned = spark.createDataFrame([(9, "zzz zzz qqq")], ["doc_id", "text"])
    m6, words6 = bpe_train(poisoned, n_merges=6, store=store)
    fresh6, wordsf = bpe_train(docs, n_merges=6)
    assert m6 == fresh6
    assert m6[:3] == m3
    got = {(w, f, tuple(toks)) for w, f, toks in words6}
    want = {(w, f, tuple(toks)) for w, f, toks in wordsf}
    assert got == want


def test_bpe_early_stop_and_hostile_inputs(spark):
    from palladian_spark.operators.bpe import bpe_merges, bpe_token_counts

    # single 2-char word: one merge possible, then no pairs remain
    docs = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    got = bpe_merges(docs, n_merges=5).collect()
    assert [(r["left"], r["right"]) for r in got] == [("a", "b")]

    # null text / no [a-z] words: empty outputs, no crash
    docs2 = spark.createDataFrame(
        [(1, None), (2, "123 !!!"), (3, "ÜBER ÖL")], "doc_id long, text string"
    )
    assert bpe_merges(docs2, n_merges=3).count() == 0
    assert bpe_token_counts(docs2, n_merges=3).count() == 0


def test_local_trainer_many_rounds_fast():
    # the production-vocab regime: hundreds of merge rounds in well
    # under a second in-driver
    import time
    from palladian_spark.operators.bpe import _train_local

    vocab = [(w1 + w2 + w3, 5 + (i % 17))
             for i, (w1, w2, w3) in enumerate(
                 (a, b, c)
                 for a in ("data", "spark", "table", "query", "merge")
                 for b in ("ing", "er", "ed", "ly", "ion")
                 for c in ("fast", "slow", "big", "small", "wide"))]
    t0 = time.time()
    merges, _ = _train_local(vocab, 300)
    dt = time.time() - t0
    assert len(merges) >= 100 and dt < 5.0


def test_build_job_budget(spark, sf_dir):
    """Building either BPE query collects the word table once; the merge
    rounds launch no Spark job."""
    import os
    from palladian_spark.operators.bpe import bpe_merges, bpe_token_counts

    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    try:
        for name, build in (("merges", bpe_merges), ("token_counts", bpe_token_counts)):
            group = f"bpe_build_budget_{name}"
            sc.setJobGroup(group, group)
            build(docs, n_merges=8)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= 3, (name, len(jobs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
