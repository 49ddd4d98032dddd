"""End-to-end KG-construction pipeline (the north rule's four stages):

1. batched mention detection per content blob,
2. candidate entity-link scoring (broadcast dictionary classify),
3. connected-components canonicalization (MinHash-LSH blocked),
4. deduplicated (subj, pred, obj) triple materialization, partitioned by
   repo-hash with salted skew handling.

Stages checkpoint through StageStore (resume on restart); per-row
sha256(content) lineage flows source -> mentions -> triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.ner import NerModel
from .operators import triples as T
from .operators.canonicalize import canonicalize_values
from .operators.mentions import detect_mentions
from .operators.ner_pipeline import tag_documents
from .sources.checkpoint import StageStore


def extract_triples(
    source: DataFrame,
    model: NerModel | None = None,
    content_col: str = "content",
    doc_ref_cols: tuple[str, ...] = ("repo", "path"),
    canonicalize: bool = True,
    store: StageStore | None = None,
    code: bool = False,
) -> DataFrame:
    """source(repo, path, commit, lang, content) -> deduplicated triples.

    With a trained NerModel the full T1-T14 chain runs (typed entities);
    without one, StringTagger candidates become untyped `mentioned-in`/
    `co-occurs-with` edges only.

    With code=True, rows whose `lang` is a code language additionally get
    source-code entity triples (imports / defines-* / calls at file grain
    plus repo-grain depends-on — operators/code.py); the code preds are
    disjoint from the mention preds, so the branch unions in after dedup
    with its own checkpointable stage and its own single content scan.
    """
    lineage = T.with_lineage(source, content_col)
    lineage = lineage.withColumn("doc_ref", F.concat_ws("/", *[F.col(c) for c in doc_ref_cols]))

    keep = ["doc_ref", "content_sha256"]

    def build_mentions() -> DataFrame:
        if model is not None:
            mentions = tag_documents(lineage, model, text_col=content_col, keep_cols=keep)
        else:
            mentions = detect_mentions(lineage, text_col=content_col, keep_cols=keep)
        # no triple reads start/end: projecting them away lets Catalyst prune
        # the offset reconstruction, so the scan is one regex pass per blob
        return mentions.select(*keep, "value", "tag")

    if store is not None:
        mentions = store.run("mentions", build_mentions, lineage_col="content_sha256")
    else:
        # four downstream branches (mentioned-in, co-occurrence, instance-of,
        # canonicalization) all consume mentions; without a cache each branch
        # would re-run the mention scan over every content blob.
        # localCheckpoint, not persist: repeated extract_triples calls in one
        # session would otherwise pin mention caches forever (no unpersist
        # placement exists — the returned plan is consumed lazily by the
        # caller); checkpointed blocks are GC-reclaimed with the DataFrame.
        mentions = build_mentions().localCheckpoint(eager=False)

    parts = [T.mentioned_in_triples(mentions), T.co_occurrence_triples(mentions)]
    if model is not None:
        parts.append(T.instance_of_triples(mentions))

    if canonicalize:
        def build_canonical() -> DataFrame:
            return canonicalize_values(mentions.select("value"))

        canonical_map = (
            store.run("canonical", build_canonical) if store is not None else build_canonical()
        )
        parts.append(T.synonym_triples(canonical_map))

    all_triples = parts[0]
    for p in parts[1:]:
        all_triples = all_triples.unionByName(p)

    def build_triples() -> DataFrame:
        return T.dedup_triples(all_triples)

    if store is not None:
        result = store.run("triples", build_triples, lineage_col="content_sha256")
    else:
        result = build_triples()

    if code:
        from .operators.code import code_triples as _code_triples

        def build_code() -> DataFrame:
            # lineage already carries content_sha256; code_triples
            # recomputes the identical hash, so the per-row invariant holds
            return _code_triples(source)

        code_part = (
            store.run("code_triples", build_code, lineage_col="content_sha256")
            if store is not None
            else build_code()
        )
        result = result.unionByName(code_part)
    return result


def merge_triples(
    parts: list[DataFrame],
    canonicalize: bool = True,
    threshold: float = 0.9,
) -> DataFrame:
    """Incremental KG construction: merge per-batch triple tables (built
    with canonicalize=False over DISJOINT document sets) into the exact
    table a full recompute over the union would produce.

    Additive by construction: mentioned-in groups are doc-scoped (obj =
    doc_ref) so they never straddle batches; co-occurs-with groups overlap
    across batches and their per-doc supports sum. Lineage folds as
    min(sha). Canonicalization is the one non-additive stage — components
    can merge when a new batch bridges two old values — so it reruns over
    the merged VALUE SET (tiny: distinct surface forms, not mentions),
    with frequencies reconstructed from mentioned-in support sums. This is
    the daily-ingest shape at 100 TB: each batch pays only its own mention
    scan; the merge is one support aggregation plus a value-set-sized
    canonicalization, never a recompute over old content.

    Equivalence to the batch path is machine-checked: the
    kg_triples_incremental contract query runs this over a two-way doc
    split and the driver compares it against the SAME DuckDB oracle as
    kg_triples (full recomputation over the union).
    """
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("subj", "pred", "obj").agg(
        F.min("content_sha256").alias("content_sha256"),
        F.sum("support").alias("support"),
    )
    if not canonicalize:
        return merged
    # localCheckpoint, not persist: the canonicalization branch actions
    # inside canonicalize_values while the merged rows are consumed again
    # by the final union — checkpointed blocks are GC-reclaimed, so this
    # lazy API needs no unpersist placement
    merged = merged.localCheckpoint(eager=False)
    freqs = (
        merged.where(F.col("pred") == "mentioned-in")
        .groupBy("subj")
        .agg(F.sum("support").alias("freq"))
        .select(F.col("subj").alias("value"), "freq")
    )
    canonical_map = canonicalize_values(freqs, threshold=threshold, freq_col="freq")
    return merged.unionByName(T.dedup_triples(T.synonym_triples(canonical_map)))


def verify_lineage(source: DataFrame, triples: DataFrame, content_col: str = "content") -> int:
    """Per-row invariant check: every non-null triple lineage hash must
    exist in the source table's sha256 set. Returns violation count (0 =
    pass). Anti-join — no collect."""
    source_hashes = T.with_lineage(source, content_col).select("content_sha256").distinct()
    return (
        triples.where(F.col("content_sha256").isNotNull())
        .select("content_sha256")
        .distinct()
        .join(source_hashes, "content_sha256", "left_anti")
        .count()
    )


def documents_as_source(documents: DataFrame) -> DataFrame:
    """Adapt the synthetic documents table (doc_id, text, lang, source,
    n_chars) to the source-code-table shape from BASELINE.json input_hint.
    The body column may be named either `text` (raw table) or `content`
    (already-adapted corpora) — both map to `content` in the output."""
    text_col = "text" if "text" in documents.columns else "content"
    source_col = F.col("source") if "source" in documents.columns else F.lit("synthetic")
    return documents.select(
        F.concat(F.lit("corpus/"), source_col).alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).substr(1, 12).alias("commit"),
        F.col("lang"),
        F.col(text_col).alias("content"),
    )
