"""Entity canonicalization at scale: MinHash-LSH blocking -> pairwise metric
re-scoring -> iterative hash-min connected components -> canonical ids.

North-rule stage (BASELINE.json): upgrades the reference's implicit
canonicalization (dictionary override T11, WordDB synonym sets) to an
explicit scalable pipeline. Blocking bounds the candidate-pair space to
O(n·bands) instead of O(n²); the exact string metric
(kernels.similarity.jaro_winkler_similarity, golden-tested) only runs inside
blocks; components converge in O(log d) hash-min iterations with
localCheckpoint per iteration to cut lineage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..kernels.similarity import jaro_winkler_similarity
from .util import band_hashes_for_shingles, banding_params


def _band_hashes_one(value: str, a, b, band_size: int, shingle_n: int) -> list[int]:
    """Minhash band hashes for one string (char-shingled; shared by the
    distributed pandas UDF and the driver-local fast path so both paths
    block identically)."""
    s = (value or "").lower()
    shingles = list({s[i : i + shingle_n] for i in range(max(len(s) - shingle_n + 1, 1))})
    return band_hashes_for_shingles(shingles, a, b, band_size)


def _make_band_udf(num_hashes: int, band_size: int, shingle_n: int):
    """Vectorized minhash-band UDF: value -> array of per-band hashes.

    numpy inside an Arrow batch beats Catalyst higher-order functions here:
    lambda bodies of transform()/aggregate() are interpreted per element
    (no whole-stage codegen), and a 16-permutation nested-lambda expression
    additionally pays seconds of analysis time per query.
    """
    a, b = banding_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def band_hashes(vals: pd.Series) -> pd.Series:
        return pd.Series(
            [_band_hashes_one(v, a, b, band_size, shingle_n) for v in vals]
        )

    return band_hashes


def _minhash_bands(
    values: DataFrame,
    value_col: str = "value",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(value) -> (value, band_id, band_hash) rows for LSH bucketing."""
    from .util import spread

    udf = _make_band_udf(num_hashes, band_size, shingle_n)
    values = spread(values)  # single-split value tables: one-core band UDF
    # posexplode_outer + null-guard: inner posexplode would double-evaluate
    # the band UDF via InferFiltersFromGenerate (see operators/mentions.py);
    # the UDF always returns a fixed-size band array, so no real row drops
    return values.select(
        value_col, F.posexplode_outer(udf(F.col(value_col))).alias("band_id", "band_hash")
    ).where(F.col("band_hash").isNotNull())


@F.pandas_udf(DoubleType())
def _jw_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler_similarity(a or "", b or "") for a, b in zip(left, right)]
    )


def candidate_pairs(
    values: DataFrame,
    value_col: str = "value",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH-blocked candidate pairs (left < right), deduplicated.

    Banded minhash (P(collide) = 1-(1-J^band_size)^n_bands) keeps buckets
    selective — single-hash bands degenerate on short strings (the global
    min-shingle concentrates, putting half the values in one bucket and
    making the block join quadratic). A deterministic lowercase-2-prefix
    block additionally guarantees that edit-distance-close names sharing a
    prefix are always compared (Jaro-Winkler's prefix boost means
    high-similarity pairs almost always share it).

    Buckets larger than max_bucket are dropped BEFORE the self-join — the
    same cap _local_canonicalize applies, so the two paths block
    identically, and a skewed bucket (e.g. a hub 2-char prefix) can never
    turn the join quadratic at scale.
    """
    bands = _minhash_bands(values, value_col, num_hashes, band_size, shingle_n)
    prefix_band = values.select(
        value_col,
        F.lit(-1).alias("band_id"),
        F.xxhash64(F.lower(F.substring(F.col(value_col), 1, 2))).alias("band_hash"),
    )
    # materialize once before the self-join: the band union references the
    # upstream plan num_bands x 2 (left/right) times — without a cut, the
    # whole mention-detection scan would re-execute for every branch
    bands = bands.unionByName(prefix_band).localCheckpoint()
    # bucket-size guard: shuffles on the same (band_id, band_hash) key as
    # the self-join below, so the extra aggregate reuses the partitioning
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("_bn"))
    bands = (
        bands.join(
            sizes.where((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket)),
            ["band_id", "band_hash"],
        )
        .drop("_bn")
    )
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{value_col}") < F.col(f"r.{value_col}")),
        )
        .select(
            F.col(f"l.{value_col}").alias("left_value"),
            F.col(f"r.{value_col}").alias("right_value"),
        )
        .dropDuplicates(["left_value", "right_value"])
    )
    return pairs


def score_pairs(pairs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact Jaro-Winkler re-scoring inside blocks; keep pairs >= threshold.

    A provably-safe JVM prefilter cuts the Arrow hop first: with
    m <= l1 <= l2 the kernel's jaro <= (2 + l1/l2)/3 and the Winkler boost
    (l <= 4) gives jw <= 0.4 + 0.6*jaro = 0.8 + 0.2*(l1/l2), so any pair
    whose trimmed length ratio is below (threshold - 0.8)/0.2 can never
    reach the threshold. Only active for threshold > 0.8 (bound <= 0
    otherwise); a 1e-9 slack keeps boundary-exact pairs.

    The trim must strip the SAME whitespace set as the JW kernel's
    str.strip() (F.trim strips ASCII spaces only — a value padded with
    tabs/newlines would get a too-long prefilter length and could be
    wrongly dropped), so the regex class below enumerates Python's
    whitespace set explicitly."""
    if threshold > 0.8:
        bound = (threshold - 0.8) / 0.2 - 1e-9
        ws = "[\\s\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]+"
        la = F.length(F.regexp_replace("left_value", f"^{ws}|{ws}$", ""))
        lb = F.length(F.regexp_replace("right_value", f"^{ws}|{ws}$", ""))
        pairs = pairs.where(F.least(la, lb) >= bound * F.greatest(la, lb))
    return pairs.withColumn("sim", _jw_udf("left_value", "right_value")).where(
        F.col("sim") >= threshold
    )


def _union_find(edge_rows) -> dict[str, str]:
    """Driver-side union-find with path compression; component = lex-min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for left, right in edge_rows:
        ra, rb = find(left), find(right)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
            parent.setdefault(lo, lo)
        else:
            parent.setdefault(ra, ra)
    return {v: find(v) for v in list(parent)}


def connected_components(
    edges: DataFrame, max_iterations: int = 20, small_graph_edges: int = 200_000
) -> DataFrame:
    """Connected components over an undirected edge list.

    edges: (left_value, right_value). Returns (value, component) where
    component is the lexicographic-min value reachable.

    Physical strategy mirrors broadcast-join planning: when the edge list
    fits comfortably on the driver (<= small_graph_edges; edges are already
    a similarity-thresholded, deduplicated set — orders of magnitude smaller
    than the corpus), union-find runs locally in one job instead of ~4 jobs
    per propagation round. Above the threshold, iterative hash-min label
    propagation with pointer jumping runs over DataFrames (O(log d) rounds,
    localCheckpoint per round to cut lineage) — the GraphFrames-style
    pattern from SURVEY.md §2.7 that scales to billions of edges.
    """
    sym = edges.select(
        F.col("left_value").alias("src"), F.col("right_value").alias("dst")
    ).unionByName(
        edges.select(
            F.col("right_value").alias("src"), F.col("left_value").alias("dst")
        )
    )
    sym = sym.persist()

    n_sym = sym.count()
    if n_sym <= 2 * small_graph_edges:
        spark = edges.sparkSession
        mapping = _union_find(
            (r["src"], r["dst"]) for r in sym.where(F.col("src") < F.col("dst")).collect()
        )
        sym.unpersist()
        if not mapping:
            return spark.createDataFrame([], "value string, component string")
        return spark.createDataFrame(
            list(mapping.items()), "value string, component string"
        )
    labels = (
        sym.select(F.col("src").alias("value"))
        .distinct()
        .withColumn("component", F.col("value"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        # candidate label per node = min over neighbors' labels and own
        neighbor_min = (
            sym.join(labels, sym.dst == labels.value)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(
            neighbor_min, labels.value == neighbor_min.src, "left"
        ).select(
            "value",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
            F.col("component").alias("_old"),
        )
        # pointer jump: component <- label(component). Label propagation
        # alone needs O(diameter) rounds (long near-duplicate chains are
        # common); jumping through the representative's own label doubles
        # the propagation distance per round -> O(log d) convergence.
        parents = labels.select(
            F.col("value").alias("component"), F.col("component").alias("_parent")
        )
        new_labels = (
            stepped.join(parents, "component", "left")
            .select(
                "value",
                F.least(
                    F.col("component"), F.coalesce("_parent", F.col("component"))
                ).alias("component"),
                "_old",
            )
            # checkpoint BEFORE the changed-count so the iteration
            # materializes exactly once (the count then reads checkpointed
            # rows instead of re-running the join)
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("component") != F.col("_old")).limit(1).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def _local_canonicalize(
    freq_rows: list[tuple[str, int]],
    threshold: float,
    num_hashes: int,
    band_size: int,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    spark=None,
    parallel_score_over: int = 100_000,
) -> list[tuple[str, str]]:
    """Driver-local block -> score -> union-find -> canonical pick.

    Same blocking (shared _band_hashes_one + lowercase-2-prefix) and same
    scorer (golden-tested Jaro-Winkler kernel) as the distributed path, so
    results are identical; used when the distinct value set fits on the
    driver. max_bucket caps degenerate blocks with the SAME cap
    candidate_pairs applies distributed, so both paths block identically.

    Scoring cost note: a hot 2-char-prefix bucket can explode into 10^5+
    pairs, and a serial Python JW loop at ~25 us/pair then dominates the
    whole KG pipeline (measured 9 s of a 13 s run at the 10x bench). With
    a ``spark`` handle, pair sets above ``parallel_score_over`` are scored
    through the SAME _jw_udf the distributed path uses — identical kernel
    per element, just executed on all cores — and only the surviving edges
    return to the driver union-find.

    Gate tuning (measured, sf0.1 32-core): serial JW runs ~28 us/pair, so
    28k pairs score in 0.8 s while the parallel round trip costs 1.3 s
    WARM (createDataFrame + repartition + UDF jobs + collect) and several
    seconds cold — break-even is ~50k pairs warm, higher cold. 100k keeps
    the serial path (< ~3 s worst case) for every corpus the local gate
    admits, and only genuinely hot buckets (the 10x-bench case: 9 s
    serial) pay the parallel fixed costs."""
    from collections import defaultdict

    a, b = banding_params(num_hashes)
    values = [v for v, _ in freq_rows]
    buckets: dict[tuple[int, object], list[str]] = defaultdict(list)
    for v in values:
        for band_id, band_hash in enumerate(
            _band_hashes_one(v, a, b, band_size, shingle_n)
        ):
            buckets[(band_id, band_hash)].append(v)
        buckets[(-1, (v or "")[:2].lower())].append(v)

    pairs: set[tuple[str, str]] = set()
    for bucket in buckets.values():
        if len(bucket) < 2 or len(bucket) > max_bucket:
            continue
        bucket = sorted(set(bucket))
        for i, x in enumerate(bucket):
            for y in bucket[i + 1 :]:
                pairs.add((x, y))

    # Exact prefilter before the expensive JW kernel: jw <= 0.8 + 0.2*r
    # with r = min(len)/max(len) of the trimmed strings, and sharper with
    # the ACTUAL upper-case common-prefix length l (the Winkler boost is
    # l*0.1*(1-jaro)): jw <= (1 - 0.1*l)*(2 + r)/3 + 0.1*l. Both bounds
    # follow from m <= l1 in the kernel's formula, so no qualifying pair
    # is ever dropped; measured ~100x cheaper per pair than full JW.
    if threshold > 0.8 and pairs:
        upper = {v: v.strip().upper() for v in values}

        def _may_reach(x: str, y: str) -> bool:
            ux, uy = upper[x], upper[y]
            # kernel early-equality: equal-after-strip+upper scores 1.0
            # (including two whitespace-only values), so it must survive
            # the zero-length check below
            if ux == uy:
                return True
            lx, ly = len(ux), len(uy)
            if lx == 0 or ly == 0:
                return False
            r = min(lx, ly) / max(lx, ly)
            l = 0
            while l < 4 and l < lx and l < ly and ux[l] == uy[l]:
                l += 1
            return (1 - 0.1 * l) * (2 + r) / 3 + 0.1 * l >= threshold - 1e-9

        pairs = {(x, y) for x, y in pairs if _may_reach(x, y)}

    if spark is not None and len(pairs) > parallel_score_over:
        # pandas -> createDataFrame takes the Arrow fast path (columnar
        # batch upload); a list of tuples would pickle row-by-row
        pair_pdf = pd.DataFrame(list(pairs), columns=["left_value", "right_value"])
        pair_df = spark.createDataFrame(pair_pdf).repartition(
            spark.sparkContext.defaultParallelism
        )
        edges = [
            (r["left_value"], r["right_value"])
            for r in score_pairs(pair_df, threshold)
            .select("left_value", "right_value")
            .collect()
        ]
    else:
        edges = [
            (x, y) for x, y in pairs if jaro_winkler_similarity(x, y) >= threshold
        ]
    mapping = _union_find(edges)

    comp_members: dict[str, list[str]] = defaultdict(list)
    for v, c in mapping.items():
        comp_members[c].append(v)
    freq_d = dict(freq_rows)
    canonical: dict[str, str] = {}
    for members in comp_members.values():
        rep = min(members, key=lambda m: (-freq_d.get(m, 1), -len(m), m))
        for m in members:
            canonical[m] = rep
    return [(v, canonical.get(v, v)) for v in values]


def canonicalize_values(
    values: DataFrame,
    value_col: str = "value",
    threshold: float = 0.9,
    num_hashes: int = 16,
    band_size: int = 4,
    small_values: int = 100_000,
    max_bucket: int = 1000,
    freq_col: str | None = None,
) -> DataFrame:
    """(value) -> (value, canonical): full block -> score -> CC -> pick.

    With freq_col set, `values` is already aggregated (value, freq) rows —
    the incremental-merge path (pipeline.merge_triples) reconstructs
    frequencies from mentioned-in support sums instead of re-scanning
    mention rows.

    Canonical surface form per component = most frequent, ties by longest
    then lexicographic (deterministic). Values outside any component map to
    themselves.

    Physical strategy is size-gated like broadcast-join planning: the
    distinct-value set is usually orders of magnitude smaller than the
    corpus (entity surface forms repeat), so when it fits on the driver
    (<= small_values) the whole block/score/union-find runs locally in one
    collect instead of ~10 distributed jobs whose fixed costs dominate.
    Above the gate, the LSH + pandas-UDF + iterative-CC DataFrame path runs
    — that is the 10^12-file shape.
    """
    # one pass over the (possibly expensive) upstream: frequencies + the
    # distinct value set are both tiny, so cut lineage here and let every
    # downstream branch (LSH bands, self-join sides, final joins) read the
    # materialized rows instead of re-running the mention scan
    if freq_col is not None:
        freq = (
            values.where(F.col(value_col).isNotNull())
            .select(value_col, F.col(freq_col).cast("long").alias("freq"))
            .persist()
        )
    else:
        freq = (
            values.where(F.col(value_col).isNotNull())
            .groupBy(value_col)
            .agg(F.count("*").alias("freq"))
            .persist()
        )
    # count first, then collect: a limit(k).collect() probe would run
    # Spark's incremental CollectLimit (1 partition, then 4x more, ...) —
    # measured as FIVE escalating jobs at 1/4/16/... task parallelism,
    # each recomputing expensive upstream partitions nearly serially
    # (~7.5 s of a cold kg_triples run). count() materializes the persisted
    # aggregate in ONE fully-parallel job; the collect then reads cached
    # rows. The count is also exactly the gate decision.
    n_distinct = freq.count()
    if n_distinct <= small_values:
        probe = freq.collect()
        freq.unpersist()
        spark = values.sparkSession
        freq_rows = [(r[0], r[1]) for r in probe]
        mapping = _local_canonicalize(
            freq_rows, threshold, num_hashes, band_size, max_bucket=max_bucket,
            spark=spark,
        )
        if not mapping:
            return spark.createDataFrame([], f"{value_col} string, canonical string")
        return spark.createDataFrame(mapping, f"{value_col} string, canonical string")

    cached = freq
    freq = freq.localCheckpoint()
    cached.unpersist()
    distinct = freq.select(value_col)
    pairs = candidate_pairs(
        distinct, value_col, num_hashes, band_size, max_bucket=max_bucket
    )
    edges = score_pairs(pairs, threshold).select("left_value", "right_value")
    components = connected_components(edges)
    member = components.join(freq, components.value == freq[value_col], "left").select(
        components.value.alias("member"),
        "component",
        F.coalesce("freq", F.lit(1)).alias("freq"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.desc("freq"), F.desc(F.length("member")), F.asc("member")
    )
    canonical = (
        member.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component", F.col("member").alias("canonical"))
    )
    mapping = components.join(canonical, "component").select(
        F.col("value").alias(value_col), "canonical"
    )
    return distinct.join(mapping, value_col, "left").select(
        value_col, F.coalesce("canonical", F.col(value_col)).alias("canonical")
    )
