"""Functional tests for the Spark operators on tiny in-memory data."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog in Berlin today", "en"),
        (2, "The quick brown fox jumps over the lazy dog in Berlin today", "en"),
        (3, "Der schnelle braune Fuchs springt und das ist nicht alles", "de"),
        (4, "The quick brown fox jumps over the lazy cat in Berlin today", "en"),
        (5, "completely different content about President John Smith and Paris", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_exact_duplicates(docs):
    from palladian_spark.operators.dedup import exact_dedup, exact_duplicates

    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2
    assert groups[0]["doc_ids"] == [1, 2]
    assert exact_dedup(docs).count() == 4


def test_ngram_jaccard_pairs(docs):
    from palladian_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.4 <= pairs[(1, 4)] < 1.0


def test_minhash_lsh_pairs(docs):
    from palladian_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           minhash_lsh_pairs(docs, threshold=0.4).collect()}
    assert (1, 2) in got  # identical docs always collide
    # hashed-shingle verify must report the same exact jaccard as the
    # string-shingle formulation for every emitted pair (LSH may miss
    # pairs — it must never mis-score one)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    for pair, j in got.items():
        assert exact[pair] == j, pair


def test_simhash(docs):
    from palladian_spark.operators.dedup import simhash_signatures

    sigs = {r["doc"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]  # identical docs -> identical signature
    assert sigs[1] != sigs[5]


def test_simhash_pairs_complete(docs):
    """Banded hamming join (pigeonhole blocking) must find EXACTLY the
    pairs the brute-force hamming filter finds — recall 1.0 by design."""
    from palladian_spark.operators.dedup import (
        portable_token_hash,
        simhash_pairs,
        simhash_signatures,
    )

    sigs = simhash_signatures(docs, bits=60, hash_fn=portable_token_hash)
    rows = {r["doc"]: r["simhash"] for r in sigs.collect()}
    for k in (6, 20, 40):
        got = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in simhash_pairs(sigs, max_hamming=k, bits=60).collect()}
        want = set()
        for a in rows:
            for b in rows:
                if a < b:
                    hd = bin(rows[a] ^ rows[b]).count("1")
                    if hd <= k:
                        want.add((a, b, hd))
        assert got == want, f"max_hamming={k}"


def test_recommended_srp_planes():
    from palladian_spark.operators.similarity_search import recommended_srp_planes

    assert recommended_srp_planes(1_000) == 12
    assert recommended_srp_planes(200_000) == 20  # ceil(log2 200k)=18
    assert recommended_srp_planes(10) == 10  # floor
    # expected random candidates per table stay ~n/8 as n grows
    for n in (10_000, 1_000_000, 10**9):
        p = recommended_srp_planes(n)
        expected = n * (n - 1) / 2 * 0.5**p
        assert expected <= n / 4


def test_no_double_udf_evaluation_in_plans(spark):
    """InferFiltersFromGenerate turns `explode(udf(col))` into
    `Filter size(udf(col)) > 0` + `Generate udf(col)` and pushes the
    filter below the spread() repartition — evaluating every tagger /
    shingle / band UDF TWICE, once of them on the single-partition
    pre-shuffle side (measured: the whole corpus serially). All
    UDF-feeding generates now use *_outer + a null-guard; this pins the
    physical plans free of the telltale inferred size-filter. The same
    hazard holds for the JVM StringTagger generator (the regex would run
    twice), and the flagship mention path must stay free of Python nodes,
    with its offset reconstruction pruned where no consumer reads it."""
    import __spark_entry__ as e
    from palladian_spark.pipeline import documents_as_source, extract_triples

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    sf = "/root/testdata/sf0.001"
    qs = e.queries()
    for name in ["string_tagger_candidates", "dict_mentions",
                 "doc_dates_normalized", "doc_ngram_jaccard",
                 "doc_cooccur_sentence", "kg_triples"]:
        plan = executed(qs[name](spark, sf))
        assert "size(pythonUDF" not in plan, name
        assert "size(regexp_extract_all(" not in plan, name
        if name in ("string_tagger_candidates", "kg_triples"):
            assert "ArrowEvalPython" not in plan, name
            assert "BatchEvalPython" not in plan, name

    stages = {}

    class StageRecorder:
        """StageStore stand-in: builds each stage without writing it."""

        def run(self, stage, build, lineage_col=None):
            stages[stage] = build()
            return stages[stage]

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    extract_triples(documents_as_source(docs), canonicalize=False, store=StageRecorder())
    plan = executed(stages["mentions"])
    assert plan.count("regexp_extract_all(") == 1
    for node in ("size(regexp_extract_all(", "split(", "Window",
                 "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_simhash_wide_pairs_complete(docs):
    """120-bit (two-long) banded hamming join must find EXACTLY the pairs
    the brute-force two-long hamming filter finds — recall 1.0 by design —
    and each half must stay inside its 60-bit range."""
    from palladian_spark.operators.dedup import (
        simhash_pairs_wide,
        simhash_signatures_wide,
    )

    sigs = simhash_signatures_wide(docs)
    rows = {r["doc"]: (r["simhash_lo"], r["simhash_hi"]) for r in sigs.collect()}
    for lo, hi in rows.values():
        assert 0 <= lo < (1 << 60) and 0 <= hi < (1 << 60)
    assert rows[1] == rows[2]  # identical docs -> identical signature
    for k in (3, 11, 59):  # band count must divide evenly into the halves
        got = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in simhash_pairs_wide(sigs, max_hamming=k).collect()}
        want = set()
        for a in rows:
            for b in rows:
                if a < b:
                    hd = (bin(rows[a][0] ^ rows[b][0]).count("1")
                          + bin(rows[a][1] ^ rows[b][1]).count("1"))
                    if hd <= k:
                        want.add((a, b, hd))
        assert got == want, f"max_hamming={k}"


def test_simhash_wide_nonportable_variant(docs):
    """portable=False (seeded-xxhash halves, the fast production path)
    must keep the exact banding contract: 60-bit halves, identical docs
    collide, and the banded join equals brute force."""
    from palladian_spark.operators.dedup import (
        simhash_pairs_wide,
        simhash_signatures_wide,
    )

    sigs = simhash_signatures_wide(docs, portable=False)
    rows = {r["doc"]: (r["simhash_lo"], r["simhash_hi"]) for r in sigs.collect()}
    for lo, hi in rows.values():
        assert 0 <= lo < (1 << 60) and 0 <= hi < (1 << 60)
    assert rows[1] == rows[2]
    got = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in simhash_pairs_wide(sigs, max_hamming=3).collect()}
    want = set()
    for a in rows:
        for b in rows:
            if a < b:
                hd = (bin(rows[a][0] ^ rows[b][0]).count("1")
                      + bin(rows[a][1] ^ rows[b][1]).count("1"))
                if hd <= 3:
                    want.add((a, b, hd))
    assert got == want


def test_textstats(docs):
    from palladian_spark.operators.textstats import (
        fingerprints,
        language_id,
        quality_scores,
        token_counts,
    )

    tc = {r["doc_id"]: r["token_count"] for r in token_counts(docs).collect()}
    assert tc[1] == 12
    qs = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert qs[1]["n_words"] == 12
    assert qs[1]["stopword_ratio"] > 0
    lid = {r["doc_id"]: r["lang_guess"] for r in language_id(docs).collect()}
    assert lid[1] == "en"
    assert lid[3] == "de"
    fp = {r["doc_id"]: r["fingerprint_md5"] for r in fingerprints(docs).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]


def test_canonicalize(spark):
    from palladian_spark.operators.canonicalize import canonicalize_values

    values = spark.createDataFrame(
        [("Johnson",), ("Johnson",), ("Jonson",), ("Berlin",), ("Bernie",)],
        ["value"],
    )
    out = {r["value"]: r["canonical"] for r in canonicalize_values(values, threshold=0.9).collect()}
    # Johnson (freq 2) is the canonical form for the Johnson/Jonson component
    assert out["Jonson"] == "Johnson"
    assert out["Johnson"] == "Johnson"
    assert out["Berlin"] == "Berlin"


def test_canonicalize_whitespace_padding_parity(spark):
    """Tab/newline-padded values must survive both prefilters (the JW
    kernel scores them after str.strip(), so 'ab\\n\\n\\n\\n' vs 'ab' is
    1.0): the distributed score_pairs length-ratio prefilter and the
    local _may_reach bound both have to strip the same whitespace set
    as the kernel, and equal-after-strip pairs score 1.0 regardless of
    raw lengths."""
    from palladian_spark.operators.canonicalize import (
        canonicalize_values,
        score_pairs,
    )

    # distributed prefilter: raw lengths 2 vs 6 would fail the 0.95-ratio
    # bound if the padding were not stripped before measuring
    pairs = spark.createDataFrame(
        [("ab", "ab\n\n\n\n"), ("ab", "ab\t\t \t"), ("ab", "xy\n\n\n\n")],
        ["left_value", "right_value"],
    )
    kept = {
        (r["left_value"], r["right_value"])
        for r in score_pairs(pairs, threshold=0.95).collect()
    }
    assert ("ab", "ab\n\n\n\n") in kept
    assert ("ab", "ab\t\t \t") in kept
    assert ("ab", "xy\n\n\n\n") not in kept

    # local path end-to-end: the padded twin must canonicalize onto the
    # frequent clean form (equal after strip+upper -> similarity 1.0)
    values = spark.createDataFrame(
        [("ab",), ("ab",), ("ab\n\n\n\n",), ("Berlin",)], ["value"]
    )
    out = {
        r["value"]: r["canonical"]
        for r in canonicalize_values(values, threshold=0.95).collect()
    }
    assert out["ab\n\n\n\n"] == "ab"
    assert out["Berlin"] == "Berlin"


def test_connected_components_chain(spark):
    from palladian_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        ["left_value", "right_value"],
    )
    comp = {r["value"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_connected_components_distributed_path_matches_local(spark):
    """The iterative hash-min DataFrame loop (scale path) must agree with
    the driver-side union-find fast path on the same graph."""
    from palladian_spark.operators.canonicalize import connected_components

    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(0, 40, 2)] + [
        ("n000", "n001"),
        ("zz1", "zz2"),
    ]
    edges = spark.createDataFrame(rows, ["left_value", "right_value"])
    local = {
        r["value"]: r["component"]
        for r in connected_components(edges).collect()
    }
    dist = {
        r["value"]: r["component"]
        for r in connected_components(edges, small_graph_edges=0).collect()
    }
    assert local == dist


def test_canonicalize_distributed_path_matches_local(spark):
    """canonicalize_values with the size gate disabled (small_values=0)
    must produce the same mapping as the driver-local fast path."""
    from palladian_spark.operators.canonicalize import canonicalize_values

    values = spark.createDataFrame(
        [("Johnson",), ("Johnson",), ("Jonson",), ("Berlin",), ("Bernie",), ("Spark",), ("Sparks",)],
        ["value"],
    )
    local = {
        r["value"]: r["canonical"]
        for r in canonicalize_values(values, threshold=0.9).collect()
    }
    dist = {
        r["value"]: r["canonical"]
        for r in canonicalize_values(values, threshold=0.9, small_values=0).collect()
    }
    assert local == dist


def test_similarity_search(spark):
    from palladian_spark.operators.similarity_search import brute_force_topk, lsh_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], ["query_id", "embedding"])
    top = brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] == 1.0

    lsh = lsh_topk(emb, q, k=2).orderBy("rank").collect()
    assert lsh[0]["vec_id"] == 1  # exact match always shares the bucket


def test_srp_planes_match_duckdb_md5():
    """The integer SRP plane family must be reproducible by the DuckDB
    expression the oracle uses (md5_number_lower % 2^21 - 2^20) — this is
    what makes ann_lsh_topk/embedding_near_dups fully SQL-oracled: if the
    md5-slice convention drifts, buckets silently diverge cross-engine."""
    import duckdb

    from palladian_spark.operators.similarity_search import _srp_plane_ints

    planes = _srp_plane_ints(5, 7, seed=42)
    con = duckdb.connect()
    for p in range(7):
        for d in range(5):
            want = con.execute(
                "select (md5_number_lower('srp:42:' || ? || ':' || ?) "
                "% 2097152)::bigint - 1048576",
                [str(p), str(d)],
            ).fetchone()[0]
            assert planes[p, d] == want, (p, d)
    assert planes.min() >= -(1 << 20) and planes.max() < (1 << 20)


def test_bucket_udf_global_dim_beats_corrupt_majority(spark):
    """A batch where identically-sized corrupt rows OUTNUMBER valid rows
    must still bucket the valid rows: the table-global dim (derived once
    by _table_dim) decides, not the batch's modal length."""
    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import lsh_topk

    # partition 1 (low ids): 3 valid dim-4 rows OUTNUMBERED by 8 corrupt
    # dim-2 rows — per-batch modal inference would mask the valid rows;
    # partition 2 (high ids): enough valid rows that the TABLE dim is 4
    rows = [(i, [1.0 * i, 2.0, 3.0, 4.0]) for i in range(3)]
    rows += [(50 + i, [9.0, 9.0]) for i in range(8)]
    rows += [(200 + i, [0.5 * i, 1.0, 1.0, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartitionByRange(
        2, "vec_id"
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_topk(df, q, k=25, n_planes=1, n_tables=4).collect()
    found = {r["vec_id"] for r in got}
    # rows 1,2 are near-parallel to the query (same signs on any plane):
    # they MUST surface despite being a minority in their batch; corrupt
    # rows never do
    assert {0, 1, 2}.issubset(found)
    assert not any(50 <= v < 100 for v in found)


def test_lsh_topk_recall_vs_brute_force(spark):
    """LSH recall gate on the sf0.001 embeddings table: the bucketed path
    must recover >= 0.9 of the exact top-5 neighbors (VERDICT round-1
    follow-up: register AND measure the scale path, not just the baseline).
    """
    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import (
        brute_force_topk,
        lsh_topk,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in lsh_topk(emb, q, k=5, n_planes=3, n_tables=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF recall gate on the sf0.001 embeddings table: probing 4 of 16
    cells must recover >= 0.6 of the exact top-5 (the synthetic embeddings
    sit at near-random angles — the hardest case for a coarse quantizer;
    lowest-id seeds measured 0.70 here and hash seeds 0.68, pure noise on
    this corpus, while on CLUSTERED corpora — the regime IVF exists for —
    hash seeds take composed IVF-PQ recall 0.76 -> ~1.0, see
    test_ivfpq_recall_and_subset_property). Also pins the invariant that
    every returned row IS in the probed cells (a subset of brute force
    scored identically — cosine/rank values match exactly on the
    intersection)."""
    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_topk,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"]): r["cosine"]
              for r in ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4).collect()}
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f} < 0.6"
    for key in exact.keys() & approx.keys():
        assert exact[key] == approx[key], f"cosine mismatch at {key}"


def test_pq_rescored_recall_on_clustered_corpus(spark):
    """PQ recall gate on the corpus shape PQ is built for (clustered
    embeddings — near-dup/near-neighbor structure): ADC candidate pool +
    exact rescore must recover >= 0.9 of the exact top-10, and rescored
    cosines must equal brute force exactly on the intersection (the rescore
    IS the brute-force scorer, applied to the pool only)."""
    import math

    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import (
        brute_force_topk,
        pq_topk,
    )

    def vec(c, i):
        return [
            math.sin(0.7 * c + 1.3 * j) + 0.08 * math.sin(2.1 * i + 0.9 * j + 5 * c)
            for j in range(32)
        ]

    rows = [(c * 20 + i, vec(c, i)) for c in range(10) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (
        df.where(F.col("vec_id") % 20 == 0)
        .where(F.col("vec_id") < 100)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in brute_force_topk(df, q, k=10).collect()}
    got = {(r["query_id"], r["vec_id"]): r["score"]
           for r in pq_topk(df, q, k=10, n_cells=16, m=4, rescore_factor=8).collect()}
    recall = len(exact.keys() & got.keys()) / len(exact)
    assert recall >= 0.9, f"PQ rescored recall {recall:.2f} < 0.9"
    for key in exact.keys() & got.keys():
        assert exact[key] == got[key], f"rescore cosine mismatch at {key}"


def test_pq_topk_self_match_and_adc_ordering(spark):
    """On the sf0.001 embeddings table (near-random angles — the hard case
    for any quantizer): every query's own vector must rank #1 through the
    rescored path, and the pure-ADC path must return exactly k rows per
    query with strictly rank-ordered int64 scores."""
    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import pq_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = pq_topk(emb, q, k=5, n_cells=16, m=4, rescore_factor=4).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert all(qid == vid for qid, vid in top1.items()), top1

    adc = pq_topk(emb, q, k=5, n_cells=16, m=4).collect()
    by_q: dict[int, list] = {}
    for r in sorted(adc, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["score"])
    assert len(by_q) == 10
    for qid, scores in by_q.items():
        assert len(scores) == 5
        assert scores == sorted(scores, reverse=True), (qid, scores)
        assert all(isinstance(s, int) for s in scores)


def test_pq_encode_codes_and_hostile_rows(spark):
    """pq_encode emits one m-length code row per conforming vector, codes in
    [0, n_cells); null/empty/dim-corrupt rows are masked out, never fatal;
    and pq_topk over the same hostile table neither crashes nor surfaces a
    corrupt row."""
    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import pq_encode, pq_topk

    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(30)]
    rows += [(100, None), (101, []), (102, [1.0, 2.0]), (103, [0.0] * 9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = pq_encode(df, n_cells=4, m=2).collect()
    assert {r["vec_id"] for r in enc} == set(range(30))
    for r in enc:
        assert len(r["codes"]) == 2
        assert all(0 <= c < 4 for c in r["codes"])

    q = df.where(F.col("vec_id").isin(0, 102)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = pq_topk(df, q, k=3, n_cells=4, m=2).collect()
    assert {r["query_id"] for r in got} == {0}  # corrupt query masked
    assert all(r["vec_id"] < 30 for r in got)

    # fully-degenerate table: no conforming rows -> empty result, no crash
    bad = spark.createDataFrame(
        [(1, None), (2, [])], "vec_id long, embedding array<double>"
    )
    assert pq_topk(bad, q, k=3, n_cells=4, m=2).count() == 0
    assert pq_encode(bad, n_cells=4, m=2).count() == 0


def test_ivfpq_recall_and_subset_property(spark):
    """IVF-PQ on the clustered corpus: the composed path must keep >= 0.8
    of the exact top-10 (cell restriction can only REMOVE candidates
    relative to plain PQ, so recall trails the pure-PQ 1.0 slightly when a
    true neighbor lands in an unprobed cell), rescored cosines must equal
    brute force on the intersection, and every returned row must also be
    reachable by the pure-PQ path's scorer (same rescorer)."""
    import math

    from pyspark.sql import functions as F

    from palladian_spark.operators.similarity_search import (
        brute_force_topk,
        ivfpq_topk,
    )

    def vec(c, i):
        return [
            math.sin(0.7 * c + 1.3 * j) + 0.08 * math.sin(2.1 * i + 0.9 * j + 5 * c)
            for j in range(32)
        ]

    rows = [(c * 20 + i, vec(c, i)) for c in range(10) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (
        df.where(F.col("vec_id") % 20 == 0)
        .where(F.col("vec_id") < 100)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in brute_force_topk(df, q, k=10).collect()}
    got = {(r["query_id"], r["vec_id"]): r["score"]
           for r in ivfpq_topk(
               df, q, k=10, n_centroids=16, n_probe=8, n_cells=16, m=4,
               rescore_factor=8,
           ).collect()}
    recall = len(exact.keys() & got.keys()) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall {recall:.2f} < 0.8"
    for key in exact.keys() & got.keys():
        assert exact[key] == got[key], f"rescore mismatch at {key}"

    # degenerate corpora: no conforming rows -> empty, no crash
    bad = spark.createDataFrame(
        [(1, None), (2, [])], "vec_id long, embedding array<double>"
    )
    assert ivfpq_topk(bad, q, k=3).count() == 0


def test_ivf_lloyd_refinement_matches_numpy_reference(spark):
    """One Lloyd iteration must equal the straightforward numpy k-means
    step exactly (same assignment tie-break, member means, empty cells keep
    their seed). Distributed mean is a sum/count aggregate — exact for
    these values, so the comparison is to-the-bit up to summation order;
    we allow 1e-12 for that."""
    import numpy as np

    from palladian_spark.operators.similarity_search import (
        _centroid_matrix,
        _make_probe_udf,
        refine_centroids,
    )

    rows = [(i, [float((i * 3) % 7), float((i * 5) % 11), float(i % 4)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent_ids, cent_vecs = _centroid_matrix(df, 4, "vec_id", "embedding")
    got = refine_centroids(df, cent_ids, cent_vecs, iters=1)

    mat = np.array([r[1] for r in rows], dtype=np.float64)
    cnorm = np.sqrt((cent_vecs ** 2).sum(1)); cnorm[cnorm == 0] = 1
    vnorm = np.sqrt((mat ** 2).sum(1)); vnorm[vnorm == 0] = 1
    cos = np.round((mat @ cent_vecs.T) / (vnorm[:, None] * cnorm[None, :]), 6)
    assign = np.argsort(-cos, axis=1, kind="stable")[:, 0]
    want = cent_vecs.copy()
    for ci in range(len(cent_ids)):
        members = mat[assign == ci]
        if len(members):
            want[ci] = members.mean(axis=0)
    assert np.abs(got - want).max() < 1e-12

    # refinement plugs into search without changing the output contract
    from palladian_spark.operators.similarity_search import ivf_topk

    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(df, q, k=3, n_centroids=4, n_probe=2, lloyd_iters=1)
    assert out.count() == 6


def test_dim_corrupt_vectors_are_masked_not_fatal(spark):
    """Length-mismatched embedding rows (truncated writes, schema drift —
    inevitable at 10^12 rows) must be EXCLUDED from similarity, not ragged-
    crash the numpy stage, and must never surface in results even though
    Spark sorts NaN above every value in desc order (masked scores are real
    nulls, not NaNs)."""
    from palladian_spark.operators.similarity_search import (
        brute_force_topk,
        embedding_near_duplicates,
        ivf_topk,
        lsh_topk,
    )

    good = [(i, [float((i * 3) % 7), float((i * 5) % 11), float(i % 4)]) for i in range(20)]
    bad = [(100, [1.0]), (101, [1.0, 2.0, 3.0, 4.0, 5.0]), (102, [9.0, 9.0])]
    df = spark.createDataFrame(good + bad, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for out in (
        brute_force_topk(df, q, k=5),
        lsh_topk(df, q, k=5, n_planes=2, n_tables=4),
        ivf_topk(df, q, k=5, n_centroids=4, n_probe=2),
    ):
        rows = out.collect()
        assert rows, "corrupt rows must not empty the result"
        assert all(r["vec_id"] < 100 for r in rows), rows
        assert all(r["cosine"] is not None for r in rows)
    dups = embedding_near_duplicates(df, threshold=-1.0, n_planes=2, n_tables=4).collect()
    assert all(r["id_a"] < 100 and r["id_b"] < 100 for r in dups)
    # corrupt-leading codebook: centroids skip the deviant row
    from palladian_spark.operators.similarity_search import _centroid_matrix

    df2 = spark.createDataFrame([(0, [7.0])] + good[1:] , ["vec_id", "embedding"])
    ids, vecs = _centroid_matrix(df2, 4, "vec_id", "embedding")
    assert 0 not in ids and vecs.shape[1] == 3


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """int8 codes must reconstruct every value within half a quantization
    step (the defining property of floor(x+0.5) rounding), and constant
    dimensions must emit code 0."""
    import numpy as np

    from palladian_spark.operators.similarity_search import quantize_embeddings

    rows = [(i, [float(i) / 7.0, -3.0 + (i % 5) * 0.25, 2.5]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["vec_id"], r["pos"]): r["code"]
           for r in quantize_embeddings(df).collect()}
    assert len(got) == 90
    mat = np.array([r[1] for r in rows])
    for d in range(3):
        mn, mx = mat[:, d].min(), mat[:, d].max()
        for i in range(30):
            code = got[(i, d)]
            if mx == mn:
                assert code == 0
                continue
            assert -128 <= code <= 127
            recon = (code + 128) * (mx - mn) / 255.0 + mn
            step = (mx - mn) / 255.0
            assert abs(recon - mat[i, d]) <= step / 2 + 1e-12


def test_multimodal_plumbing(spark, docs):
    from palladian_spark.operators.multimodal import (
        image_features,
        sample_frames,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, docs)
    feats = image_features(media).collect()
    assert len(feats) == 5
    assert all(len(r["feature"]) == 8 * 8 * 3 for r in feats)
    # REAL decode: reported dimensions must match the synthesis formula
    # (width = 16 + doc_id % 32, height = 12 + doc_id*7 % 24)
    for r in feats:
        d = int(r["media_id"][1:])
        assert (r["width"], r["height"]) == (16 + d % 32, 12 + d * 7 % 24)
    # deterministic: a second run yields identical features
    again = {r["media_id"]: r["feature"] for r in image_features(media).collect()}
    assert again == {r["media_id"]: r["feature"] for r in feats}

    big = spark.createDataFrame(
        [("v1", bytearray(b"x" * 50000))], ["media_id", "media"]
    )
    frames = sample_frames(big, every_n=3).collect()
    assert len(frames) == 4  # 12 frames, every 3rd


def test_pipeline_end_to_end(spark, docs, tmp_path):
    from palladian_spark.pipeline import documents_as_source, extract_triples, verify_lineage
    from palladian_spark.sources.checkpoint import StageStore

    source = documents_as_source(docs)
    store = StageStore(spark, str(tmp_path / "stages"))
    triples = extract_triples(source, store=store)
    rows = triples.collect()
    assert len(rows) > 0
    preds = {r["pred"] for r in rows}
    assert "mentioned-in" in preds
    # lineage invariant holds
    assert verify_lineage(source, triples) == 0
    # resume: second run reads from manifests (no recompute) and matches
    triples2 = extract_triples(source, store=store)
    assert triples2.count() == len(rows)
    assert store.manifest("triples")["status"] == "complete"


def test_stage_metrics_hll_distinct_estimate(spark, tmp_path):
    """The per-partition metrics table embeds HLL registers of the lineage
    column in the same single scan (grouping sets), and the manifest's
    distinct_lineage_est must land within HLL tolerance of the true
    distinct-content count (p=6 -> ~13% SE; gate at 40% = 3 sigma) — and
    register-level rows must max-merge consistently with the totals."""
    from pyspark.sql import functions as F

    from palladian_spark.sources.checkpoint import StageStore

    # 200 rows but only 60 distinct contents (duplicate inflation)
    rows = [(i, f"content-{i % 60}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    store = StageStore(spark, str(tmp_path / "stages"))
    store.write("s1", df, lineage_col="content_sha256")
    man = store.manifest("s1")
    assert man["rows"] == 200
    est = man["distinct_lineage_est"]
    assert est is not None and abs(est - 60) / 60 <= 0.40, est

    metrics = spark.read.parquet(str(tmp_path / "stages" / "s1_metrics"))
    mrows = metrics.collect()
    totals = [r for r in mrows if r["level"] == 1]
    assert sum(r["rows"] for r in totals) == 200
    # register rows exist and stay in the p=6 range
    regs = [r for r in mrows if r["level"] == 0 and r["register"] is not None]
    assert regs and all(0 <= r["register"] < 64 for r in regs)
    assert all(1 <= r["max_rho"] <= 55 for r in regs)

    # a stage without a lineage column keeps the simple metrics shape
    store.write("s2", df.drop("content_sha256"))
    assert store.manifest("s2")["distinct_lineage_est"] is None


def test_pipeline_code_entities(spark, docs, tmp_path):
    """extract_triples(code=True): code-language rows contribute
    imports/defines/calls/depends-on triples alongside the mention
    families; text-language rows contribute none (lang dispatch); the
    code stage checkpoints and the lineage invariant holds."""
    from palladian_spark.pipeline import documents_as_source, extract_triples, verify_lineage
    from palladian_spark.sources.checkpoint import StageStore

    text_source = documents_as_source(docs)
    code_source = spark.createDataFrame(
        [
            ("corpus/repoA", "src/a.py", "c0", "python",
             "import alpha\nfrom beta import gamma\n\ndef run(x):\n    return alpha.gamma(x)\n"),
            ("corpus/repoB", "src/b.go", "c1", "go",
             'package main\n\nimport "alpha/beta"\n\nfunc start() {\n    beta.run()\n}\n'),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    source = text_source.unionByName(code_source)
    store = StageStore(spark, str(tmp_path / "stages"))
    triples = extract_triples(source, store=store, code=True)
    rows = triples.collect()
    preds = {r["pred"] for r in rows}
    assert {"mentioned-in", "imports", "depends-on"} <= preds
    by_edge = {(r["subj"], r["pred"], r["obj"]) for r in rows}
    assert ("corpus/repoA/src/a.py", "imports", "alpha") in by_edge
    assert ("corpus/repoA/src/a.py", "calls", "alpha.gamma") in by_edge
    assert ("corpus/repoB/src/b.go", "imports", "alpha/beta") in by_edge
    assert ("corpus/repoB", "depends-on", "alpha/beta") in by_edge
    # text rows emit no code preds (lang dispatch): every code-pred subj
    # points into the two code repos
    for s, p, _ in by_edge:
        if p in ("imports", "calls", "depends-on") or p.startswith("defines-"):
            assert s.startswith("corpus/repo"), (s, p)
    assert verify_lineage(source, triples) == 0
    assert store.manifest("code_triples")["status"] == "complete"
    # resume: second run reads the checkpointed code stage and matches
    assert extract_triples(source, store=store, code=True).count() == len(rows)


def test_triples_write_partitioned(spark, docs, tmp_path):
    from palladian_spark.pipeline import documents_as_source, extract_triples
    from palladian_spark.operators.triples import write_triples

    triples = extract_triples(documents_as_source(docs), canonicalize=False)
    out = str(tmp_path / "triples")
    write_triples(triples, out)
    back = spark.read.parquet(out)
    assert back.count() == triples.count()
    assert "repo_hash" in back.columns


def test_scoped_cooccurrences(spark):
    """CoOccurrenceRetriever scope semantics (reference :115-152):
    DOCUMENT counts docs with both terms, SENTENCE only same-sentence
    pairs, CONTEXT window only pairs within N chars."""
    from palladian_spark.operators.cooccurrence import (
        CONTEXT_WINDOW,
        DOCUMENT,
        SENTENCE,
        scoped_cooccurrences,
    )

    rows = [
        (1, "alpha likes beta. The gamma stands alone."),
        (2, "alpha here. The beta is far far away from it."),
        (3, "nothing relevant at all."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = ["alpha", "beta", "gamma"]

    doc = {(r["term_a"], r["term_b"]): r["n"]
           for r in scoped_cooccurrences(docs, terms, DOCUMENT).collect()}
    assert doc[("alpha", "beta")] == 2  # docs 1 and 2
    assert doc[("alpha", "gamma")] == 1

    sent = {(r["term_a"], r["term_b"]): r["n"]
            for r in scoped_cooccurrences(docs, terms, SENTENCE).collect()}
    assert sent[("alpha", "beta")] == 1  # doc 2 splits them across sentences
    assert ("alpha", "gamma") not in sent

    win = {(r["term_a"], r["term_b"]): r["n"]
           for r in scoped_cooccurrences(docs, terms, CONTEXT_WINDOW, window=8).collect()}
    assert win[("alpha", "beta")] == 1  # doc 1 gap is 7 chars; doc 2 gap is 11


def test_heavy_scans_are_spread(spark, tmp_path):
    """Regression for the round-3 single-split finding: operators whose
    first shuffle comes late must repartition an under-parallel scan
    before their heavy per-row stage, or the whole pipeline serializes
    onto one core (a 1-file parquet table = 1 split = 1 task)."""
    rows = [(i, f"word{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(64)]
    path = str(tmp_path / "one_split.parquet")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(path)
    one_split = spark.read.parquet(path)
    assert one_split.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism

    from palladian_spark.operators.dedup import _word_shingles, simhash_signatures
    from palladian_spark.operators.textstats import token_counts

    assert _word_shingles(one_split, "text").rdd.getNumPartitions() >= target
    # aggregates shuffle anyway; assert on the pre-aggregation scan instead
    assert token_counts(one_split).rdd.getNumPartitions() >= target
    # simhash output is post-groupBy (shuffle.partitions); the guarded scan
    # is inside — assert the operator still computes correctly end-to-end
    assert simhash_signatures(one_split).count() == 64

    emb_path = str(tmp_path / "emb.parquet")
    emb_rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(32)]
    spark.createDataFrame(emb_rows, ["vec_id", "embedding"]).coalesce(1).write.parquet(emb_path)
    emb = spark.read.parquet(emb_path).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    from palladian_spark.operators.similarity_search import brute_force_topk

    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = brute_force_topk(emb, q, k=3)
    assert scored.count() == 6


def test_spread_skips_probe_on_already_repartitioned_plans(spark):
    """spread() over Project/Filter on an explicit Repartition(n >= target)
    must return the frame untouched WITHOUT the df.rdd probe: under AQE
    that probe executes every upstream shuffle stage just to finalize the
    plan — a whole wasted stage per operator call (found via the
    media_features double-stage). Wide nodes must still fall through."""
    from palladian_spark.operators.util import _already_spread, spread

    target = spark.sparkContext.defaultParallelism
    base = spark.range(100).repartition(target).select(
        F.col("id"), (F.col("id") * 2).alias("y")
    )
    assert _already_spread(base, target)
    assert spread(base) is base
    # narrower explicit repartition -> not enough, must NOT short-circuit
    narrow = spark.range(100).repartition(max(1, target // 2))
    assert not _already_spread(narrow, target)
    # wide node (AQE may coalesce its width) -> never short-circuit
    agg = spark.range(100).repartition(target).groupBy((F.col("id") % 3)).count()
    assert not _already_spread(agg, target)


def test_short_documents_do_not_crash_shingles(spark):
    """sequence(0, -1) is DESCENDING in Spark — docs with <= n words used to
    feed slice() a zero start and kill the job. Shingle semantics: a doc
    with size <= n words has NO shingles (both engines agree)."""
    from palladian_spark.operators.dedup import (
        _word_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(1, ""), (2, "one"), (3, "one two three"),
            (4, "alpha beta gamma delta alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["_shingles"] for r in
           _word_shingles(df, "text").select("doc_id", "_shingles").collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert len(got[4]) == 4
    assert minhash_lsh_pairs(df, threshold=0.2).count() == 0
    assert ngram_jaccard_pairs(df, threshold=0.2).count() == 0


def test_salted_write_spreads_mega_repo(spark, tmp_path):
    """The north rule's explicit skew handling: one mega-repo holding 90%
    of all triples must fan out over multiple writer tasks (salt column)
    instead of serializing through one straggler, while readers prune on
    repo_hash alone and round-trip losslessly."""
    import glob

    from palladian_spark.operators.triples import (
        with_partition_keys,
        write_triples,
    )

    schema = (
        "subj string, pred string, obj string, content_sha256 string, support long"
    )
    mega = [("mega-repo", "mentioned-in", f"obj{i}", f"sha{i}", 1) for i in range(9000)]
    small = [
        (f"repo{i % 100}", "mentioned-in", f"o{i}", f"s{i}", 1) for i in range(1000)
    ]
    df = spark.createDataFrame(mega + small, schema)
    out = str(tmp_path / "triples")

    # at toy scale AQE would coalesce the salted shuffle back to one
    # task (and the fixture session runs few shuffle partitions); at
    # production partition sizes neither bound bites, so pin both to
    # observe the fan-out the plan encodes
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_coalesce = spark.conf.get(coalesce_key)
    prev_shuffle = spark.conf.get(shuffle_key)
    spark.conf.set(coalesce_key, "false")
    spark.conf.set(shuffle_key, "16")
    try:
        write_triples(df, out)
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
        spark.conf.set(shuffle_key, prev_shuffle)

    mega_hash = (
        with_partition_keys(spark.createDataFrame(mega[:1], schema))
        .first()["repo_hash"]
    )
    part_files = glob.glob(f"{out}/repo_hash={mega_hash}/part-*")
    assert len(part_files) >= 8, part_files  # salt spread writer tasks

    back = spark.read.parquet(out)
    assert back.count() == 10000
    # salt is physical only: reader prune is on repo_hash, data intact
    assert back.where(F.col("repo_hash") == mega_hash).count() >= 9000
    assert (
        back.where("repo_hash = %d and subj = 'mega-repo'" % mega_hash).count()
        == 9000
    )
