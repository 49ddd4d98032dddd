"""Byte-pair-encoding (BPE) vocabulary training: one corpus scan, then an
in-driver trainer over the distinct-word table.

The canonical LLM-tokenizer construction (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public algorithm),
re-expressed for Spark's execution model:

- The corpus compresses to a DISTINCT-WORD frequency table (one groupBy).
  That scan is the only work that touches raw text, and the only Spark
  action the trainer runs.
- The ``(word, freq)`` table is collected and the merge rounds run in the
  driver (:func:`_train_local`), with incremental pair-count maintenance:
  after a merge only the words containing that pair are re-tokenized.
  A merge round is driver work, not a Spark job.
- Encoding (:func:`bpe_token_counts`) joins each document's words against
  the trained ``(word, token count)`` table.

Driver-memory regime: the driver holds the distinct ``[a-z]+`` vocabulary
with each word's token list and the pair-count table — the word-frequency
representation Sennrich's trainer works on. Peak Python memory is about
1 KB per distinct word (~830 B measured on 190k random 3-12-letter
words), so ≤ ~5M distinct words fit a driver with a few GB free; a
corpus whose distinct vocabulary is larger must be pruned (for example
of rare words) before it is handed to this trainer.

Determinism: words are the maximal ``[a-z]+`` runs of the raw text (no
case folding — Unicode lowercasing differs across engines), ties on pair
count break lexicographically (binary collation on both engines), and the
greedy merge's run semantics (overlapping candidates only arise in
same-token runs; take every other) are reproduced exactly by the DuckDB
oracle's window-function formulation — the whole trainer is
SQL-expressible and hash-verified end to end.

Reference anchor: the reference tokenizes and builds n-gram dictionaries
(`palladian-core/.../extraction/token/Tokenizer.java`,
`.../classification/text/DictionaryBuilder`); subword vocabulary training
is the scale-path extension of that dictionary construction for LLM data
pipelines (SURVEY "LLM-data-pipeline operators").
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import spread

# maximal lowercase-ASCII runs: engine-identical (no case folding, no
# Unicode classes — RE2/Java/ICU all agree on [a-z]+)
WORD_RE = "[a-z]+"

Merge = tuple[int, str, str, int]


def _word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the one pass that touches raw text."""
    return (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(F.explode(F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _greedy_merge(tokens: list, left: str, right: str) -> list:
    """One BPE merge applied greedily left-to-right (the standard scan:
    after a merge, scanning resumes AFTER the merged token, so overlapping
    candidates in same-token runs resolve to every other position)."""
    out = []
    i, n = 0, len(tokens)
    while i < n:
        if i + 1 < n and tokens[i] == left and tokens[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def _train_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> tuple[list[Merge], list[tuple[str, int, list[str]]]]:
    """Exact in-driver BPE trainer over a (word, freq) vocabulary:
    overlap-counting pair frequencies ("aaa" counts (a,a) twice), argmax
    tie-break count desc / left asc / right asc, greedy left-to-right
    merge application. Stops early when no pair remains.

    Incremental pair-count maintenance (the standard learn-bpe
    bookkeeping): after a merge only words CONTAINING that pair are
    re-tokenized, so per-round cost is proportional to affected words,
    not the vocabulary.

    Returns the merge list [(rank, left, right, pair_count)] (rank 1 =
    first merge) and each word's (word, freq, final tokens) in ``vocab``
    order."""
    words = [(list(w), int(f)) for w, f in vocab]
    counts: Counter = Counter()
    index: dict[tuple[str, str], set[int]] = defaultdict(set)

    def _count_word(idx: int, sign: int) -> None:
        tokens, freq = words[idx]
        for a, b in zip(tokens, tokens[1:]):
            counts[(a, b)] += sign * freq
            if sign > 0:
                index[(a, b)].add(idx)

    for i in range(len(words)):
        _count_word(i, +1)

    merges: list[Merge] = []
    for rank in range(1, n_merges + 1):
        best = None
        for pair, cnt in counts.items():
            if cnt <= 0:
                continue
            key = (-cnt, pair[0], pair[1])
            if best is None or key < best[0]:
                best = (key, pair, cnt)
        if best is None:
            break
        _, (left, right), cnt = best
        merges.append((rank, left, right, cnt))
        for idx in list(index[(left, right)]):
            tokens, freq = words[idx]
            merged = _greedy_merge(tokens, left, right)
            if merged == tokens:
                continue
            _count_word(idx, -1)
            words[idx] = (merged, freq)
            _count_word(idx, +1)
    return merges, [(w, f, toks) for (w, _), (toks, f) in zip(vocab, words)]


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    store=None,
) -> tuple[list[Merge], list[tuple[str, int, list[str]]]]:
    """Train ``n_merges`` BPE merges over the corpus: one Spark scan
    collects the (word, freq) table, then :func:`_train_local` runs the
    rounds in the driver. Returns the merge list and the final word table
    [(word, freq, tokens)] with all merges applied — a word's token count
    after training is a lookup, no re-scan of text.

    With a ``store`` (sources.checkpoint.StageStore) the word-frequency
    table is a resumable stage (``bpe_words_0``): it is the only
    corpus-sized work, so a rerun over a 100 TB corpus never repays the
    scan, and training more rounds on an existing store reuses it."""
    if store is not None:
        freqs = store.run("bpe_words_0", lambda: _word_freqs(docs, text_col))
    else:
        freqs = _word_freqs(docs, text_col)
    vocab = [(r["word"], r["freq"]) for r in freqs.collect()]
    return _train_local(vocab, n_merges)


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Contract surface: the learned merge table
    (merge_rank, left, right, pair_count)."""
    merges, _ = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def _bpe_rounds_sql(n_merges: int) -> str:
    """DuckDB CTE chain recomputing the whole trainer independently:
    word freqs -> char tokens -> ``n_merges`` unrolled rounds of
    (pair count -> argmax merge -> greedy application). The greedy scan is
    window functions: overlapping merge candidates only arise as runs of
    identical tokens (l=r), and greedy-left-to-right takes every other
    position in a run — gaps-and-islands (grp = pos - row_number) + odd
    island index, then drop the row after each taken position and renumber.
    Returns the CTE bodies (no WITH); tok{n_merges} is the final word
    table, best{r} the r-th merge."""
    parts = [
        """w as (select word, count(*)::bigint as freq from (
             select unnest(regexp_extract_all(text, '[a-z]+')) as word
             from documents where text is not null) group by 1),
        tok0 as materialized (select word, freq,
                        unnest(generate_series(1, length(word))) as pos,
                        unnest(regexp_extract_all(word, '[a-z]')) as token
                 from w)"""
    ]
    for r in range(1, n_merges + 1):
        p = f"tok{r - 1}"
        parts.append(
            f"""pc{r} as materialized (select token as l, nxt as r, sum(freq)::bigint as cnt from (
                    select token, freq,
                           lead(token) over (partition by word order by pos) as nxt
                    from {p}) where nxt is not null group by 1, 2),
        best{r} as materialized (select l, r, cnt from pc{r} order by cnt desc, l, r limit 1),
        cand{r} as (select word, freq, pos, token,
                           lead(token) over (partition by word order by pos) as nxt,
                           case when token = (select l from best{r})
                                 and lead(token) over (partition by word order by pos)
                                     = (select r from best{r})
                                then 1 else 0 end as c
                    from {p}),
        runs{r} as (select *, case when c = 1
                                   then pos - row_number() over (
                                            partition by word, c order by pos)
                              end as grp
                    from cand{r}),
        take{r} as (select *, case when c = 1
                                    and row_number() over (
                                            partition by word, grp order by pos) % 2 = 1
                                   then 1 else 0 end as tk
                    from runs{r}),
        tok{r} as materialized (select word, freq,
                          row_number() over (partition by word order by pos) as pos,
                          case when tk = 1 then token || nxt else token end as token
                   from (select *, lag(tk) over (partition by word order by pos) as ptk
                         from take{r})
                   where coalesce(ptk, 0) = 0)"""
        )
    return ",\n        ".join(parts)


def bpe_merges_sql(n_merges: int = 8) -> str:
    """Full independent DuckDB oracle for :func:`bpe_merges`."""
    rounds = _bpe_rounds_sql(n_merges)
    sel = "\n            union all ".join(
        f"select {r} as merge_rank, l as lhs, r as rhs, cnt as pair_count from best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"with {rounds}\n            {sel}"


def bpe_token_counts_sql(n_merges: int = 8) -> str:
    """Full independent DuckDB oracle for :func:`bpe_token_counts`."""
    rounds = _bpe_rounds_sql(n_merges)
    return f"""with {rounds},
        wc as (select word, count(*)::bigint as ntok
               from tok{n_merges} group by word),
        dw as (select doc_id, unnest(regexp_extract_all(text, '[a-z]+')) as word
               from documents where text is not null)
        select dw.doc_id, count(*) as n_words, sum(wc.ntok)::bigint as n_bpe_tokens
        from dw join wc using (word) group by 1"""


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE token count under the trained vocabulary:
    (doc_id, n_words, n_bpe_tokens). Encoding is a JOIN, not a re-scan —
    each document's words look up their post-merge token counts in the
    trained word table (broadcast if the vocabulary fits, shuffle join
    otherwise), which is how a 100 TB corpus is encoded after training:
    one pass over the text for words, one join against the vocabulary."""
    _, words = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    wc = docs.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "word": [w for w, _, _ in words],
                "_ntok": [len(toks) for _, _, toks in words],
            }
        ),
        "word string, _ntok int",
    )
    doc_words = (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(
            id_col,
            F.explode(F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))).alias("word"),
        )
    )
    return (
        doc_words.join(wc, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_ntok").alias("n_bpe_tokens"),
        )
    )
