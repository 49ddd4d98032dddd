"""Mention detection over a DataFrame text column.

Spark mapping of the reference taggers (SURVEY.md §2.2). The StringTagger
candidate scan (``detect_mentions``) is pure JVM: java.util.regex is the
reference's own dialect, so the kernel pattern
(``kernels.tagging.STRING_TAGGER_REGEX``, golden-tested through
``kernels.tagging.string_tag``) runs unchanged as one
``regexp_extract_all`` per content blob, with no Python hop. Gazetteer
matching (``dictionary_mentions``) stays a pandas UDF over a broadcast
alternation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import tagging
from .util import spread

ANNOTATION_STRUCT = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("value", StringType()),
        StructField("tag", StringType()),
    ]
)


def detect_mentions(
    df: DataFrame,
    text_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one StringTagger candidate per row: (keep_cols..., start, end,
    value, tag), the rows of ``kernels.tagging.string_tag``.

    Values come from one ``regexp_extract_all`` over the protected-space-
    cleaned text (``translate`` maps U+00A0 to a space one-for-one, so
    offsets are kept). Java has no match-position array, so start(i) is
    rebuilt as in the DuckDB oracle: the running sum of the gap lengths of
    ``split(clean, pattern, -1)`` up to gap i plus the match lengths before
    match i, one window sum per document. A consumer that reads only
    values/tags lets Catalyst prune the ``split`` and the window, leaving
    one regex pass (tests/test_spark_operators.py pins this).
    """
    keep_cols = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    clean = F.translate(F.col(text_col), "\u00a0", " ")
    pattern = tagging.STRING_TAGGER_REGEX
    # posexplode_outer, NOT posexplode: InferFiltersFromGenerate turns an
    # inner generate into `Filter size(regexp_extract_all(..)) > 0` +
    # `Generate`, evaluating the regex twice. The outer variant infers no
    # filter; the null-guard drops the row it emits for null/empty content.
    exploded = (
        spread(df)
        .select(
            *keep_cols,
            F.monotonically_increasing_id().alias("_doc"),
            F.split(clean, pattern, -1).alias("_gaps"),
            F.regexp_extract_all(clean, F.lit(pattern), 0).alias("_vals"),
        )
        .select(*keep_cols, "_doc", "_gaps", F.posexplode_outer("_vals").alias("_i", "value"))
        .where(F.col("value").isNotNull())
        .select(
            *keep_cols, "_doc", "_i", "value",
            F.length(F.element_at("_gaps", F.col("_i") + 1)).alias("_gap"),
        )
    )
    length = F.length("value")
    w = Window.partitionBy("_doc").orderBy("_i").rowsBetween(Window.unboundedPreceding, 0)
    start = (F.sum(F.col("_gap") + length).over(w) - length).cast("int")
    return exploded.withColumn("start", start).select(
        *keep_cols,
        "start",
        (F.col("start") + length).alias("end"),
        "value",
        F.lit(tagging.CANDIDATE_TAG).alias("tag"),
    )


def dictionary_mentions(
    df: DataFrame,
    dictionary: dict[str, str],
    text_col: str = "content",
    case_sensitive: bool = False,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Gazetteer matching (DictionaryTagger.java:24-83) as a broadcast-
    variable pandas UDF — the dictionary ships once per executor, and the
    combined leftmost-longest alternation (tagging.dictionary_matcher)
    compiles once per executor process, so each document costs one regex
    scan regardless of gazetteer size."""
    keep_cols = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    spark = df.sparkSession
    dict_bc = spark.sparkContext.broadcast(tuple(dictionary.items()))

    @F.pandas_udf(ArrayType(ANNOTATION_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
        # matcher build is lru_cached on the broadcast items tuple — the
        # O(|gazetteer|) alternation compile happens once per process, not
        # per batch or per row
        pattern, lookup = tagging.dictionary_matcher(dict_bc.value, case_sensitive)
        if pattern is None:
            return pd.Series([[] for _ in range(len(texts))])
        out = []
        for t in texts:
            t = t or ""
            out.append(
                [
                    (
                        m.start(),
                        m.end(),
                        m.group(),
                        lookup[m.group() if case_sensitive else m.group().lower()],
                    )
                    for m in pattern.finditer(t)
                ]
            )
        return pd.Series(out)

    return (
        spread(df).select(*keep_cols, tag_series(F.col(text_col)).alias("_anns"))
        # explode_outer + null-guard: an inner explode would make
        # InferFiltersFromGenerate push a `size(udf(..)) > 0` filter below
        # spread() and evaluate the UDF twice
        .select(*keep_cols, F.explode_outer("_anns").alias("_a"))
        .where(F.col("_a").isNotNull())
        .select(*keep_cols, "_a.start", "_a.end", "_a.value", "_a.tag")
    )
