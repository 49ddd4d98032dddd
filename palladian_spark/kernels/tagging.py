"""Regex-based mention taggers and the Annotation model.

Each tagger returns a list of Annotation(start, value, tag) tuples over a
single text blob; the NER, geo and preprocessing UDFs call them over Arrow
batches. The Spark StringTagger scan (operators/mentions.py) runs
STRING_TAGGER_REGEX in the JVM instead, with string_tag as its golden twin.
"""

from __future__ import annotations

from typing import NamedTuple

import regex

from .text import replace_protected_space

CANDIDATE_TAG = "CANDIDATE"


class Annotation(NamedTuple):
    start: int
    value: str
    tag: str = ""

    @property
    def end(self) -> int:
        return self.start + len(self.value)

    def congruent(self, other: "Annotation") -> bool:
        """Same span. Reference: AbstractToken.java:29-33."""
        return self.start == other.start and self.end == other.end

    def overlaps(self, other: "Annotation") -> bool:
        """Interval intersection. Reference: AbstractToken.java:21-26."""
        return (
            self.start <= other.start < self.end
            or self.start <= other.end <= self.end
            or other.start <= self.start < other.end
            or other.start <= self.end <= other.end
        )

    def same_tag(self, other: "Annotation") -> bool:
        return self.tag.lower() == other.tag.lower()


def sort_key(a: Annotation) -> tuple[int, int]:
    """Ascending start; at equal start, LONGER (larger end) first.

    Reference: AbstractToken.compareTo (AbstractToken.java:6-13).
    """
    return (a.start, -a.end)


def remove_nested(annotations: list[Annotation]) -> list[Annotation]:
    """Greedy left-to-right nested-span removal after sorting.

    Reference: Annotations.removeNested (Annotations.java:43-56).
    """
    out = []
    last_end = 0
    for a in sorted(annotations, key=sort_key):
        if a.start < last_end:
            continue
        out.append(a)
        last_end = a.end
    return out


# ---------------------------------------------------------------------------
# StringTagger: English entity-candidate alternation regex.
# Reference: extraction/entity/StringTagger.java:25-77. The alternation order
# is semantically significant (leftmost-first) and is preserved exactly. The
# pattern is written in the common subset of Python `regex` and
# java.util.regex, so operators/mentions.py runs it unchanged in the JVM:
# \p{Ll} and literal curly apostrophes mean the same in both, and Java's
# ASCII-only \s is spelled out as [ \t\n\x0B\f\r] (Python's \s would also
# match Unicode spaces such as U+2003 and split "Bank of Scotland").
# java.util.regex recurses once per iteration of a repeated group (about
# 1.5 KB of thread stack each), so the reference's unbounded `*`/`+`/`{1,}`
# on groups overflow a 1 MB task-thread stack on a run of ~500 Title-Case
# words and the StackOverflowError takes down the Spark JVM. Every such
# repetition is capped at 64 here, in both engines: matches with at most 64
# repetitions per group are the reference's, and longer runs split into
# consecutive matches instead of crashing (worst case ~270 KB of stack).
# ---------------------------------------------------------------------------
_CAMEL_CASE_WORDS = r"(GmbH|LLC)"
_SUFFIXES = r"((?<=(Inc|Corp|Co|Ave))\.)?"

STRING_TAGGER_REGEX = (
    # dashes ("Ontario-based", "St. Louis-based")
    r"([A-Z][a-z]\. )?([A-Z]{1}[A-Za-z\p{Ll}]+(-[a-z\p{Ll}]+)(-[A-Za-z\p{Ll}]+){0,64})"
    r"|"
    # A. Anderson
    r"([A-Z]\.)( )?[A-Z]{1}['’A-Za-z\p{Ll}]{1,100}"
    r"|"
    # Alexander A. Anderson, Mayor Bobby E. Horton
    r"([A-Z][a-z\p{Ll}]+ ){1,2}[A-Z]{1}\. [A-Za-z\p{Ll}]{1,100}"
    r"|"
    # Dr. Anderson Emeraldy
    r"([A-Z][a-z\p{Ll}]{0,2}\.) [A-Z]{1}[A-Za-z\p{Ll}]{1,100}( [A-Z]{1}[A-Za-z\p{Ll}]{1,100})?"
    r"|"
    # A.B.C. Anderson
    r"([A-Z]\.)+( ([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+)){1,64}(([ ])*[A-Z]+([A-Za-z-\p{Ll}0-9]*)){0,10}){0,64}"
    r"|"
    # ending with dash ("Real- Rumble" should be two words)
    r"([A-Z][A-Za-z\p{Ll}]+ ){0,64}[A-Z][A-Za-z\p{Ll}]+(?=-+? )"
    r"|"
    # small with dash (ex-President)
    r"([A-Z][A-Za-z\p{Ll}]+ )?([a-z\p{Ll}]+-[A-Z][A-Za-z\p{Ll}0-9]+)"
    r"|"
    # X Y of Z / X of Y Z ("National Bank of Scotland", "L’Arc de Triomphe")
    r"(([A-Z]{1}['’]?[A-Za-z\p{Ll}]+ ){1,64}(?:of|de) (([A-Z]{1}[A-Za-z-\p{Ll}]+)(?!([a-z-]{0,20}[ \t\n\x0B\f\r][A-Z]))))"
    r"|([A-Z]{1}[A-Za-z-\p{Ll}]+ of( [A-Z]{1}[A-Za-z\p{Ll}]+){1,64})"
    r"|"
    # title-case sequences, GmbH/LLC, Inc./Corp./Co./Ave. suffixes
    r"([A-Z]{1}([a-z-\p{Ll}0-9®]+)(( " + _CAMEL_CASE_WORDS + r")?"
    r"(([ &])*([A-Z]['’])?[A-Z]{1}([a-z-\p{Ll}0-9®]+))?){0,64})" + _SUFFIXES +
    r"|"
    # O'Sullivan, D&G, all-caps runs
    r"((([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+|['’][A-Z][A-Za-z]{2,20})){1,64}"
    r"(([ &])*[A-Z]+(['’][A-Z])?([A-Za-z-\p{Ll}0-9®]*)){0,10})(?!(\.[A-Z])+))" + _SUFFIXES +
    r"|"
    # camel case (iPhone 4)
    r"([a-z][A-Z][A-Za-z0-9]+( [A-Z0-9][A-Za-z0-9]{0,20}){0,20})"
)

_STRING_TAGGER_PATTERN = regex.compile(STRING_TAGGER_REGEX)


def regex_tag(text: str, pattern, tag: str) -> list[Annotation]:
    """Run one compiled regex over the protected-space-cleaned text.

    Reference: RegExTagger.getAnnotations (RegExTagger.java:31-40).
    """
    clean = replace_protected_space(text)
    return [Annotation(m.start(), m.group(), tag) for m in pattern.finditer(clean) if m.group()]


def string_tag(text: str) -> list[Annotation]:
    """English candidate mentions, tag=CANDIDATE (StringTagger.java:13-77)."""
    return regex_tag(text, _STRING_TAGGER_PATTERN, CANDIDATE_TAG)


# ---------------------------------------------------------------------------
# Simple auxiliary taggers
# ---------------------------------------------------------------------------
# Reference: extraction/entity/TwitterTagger.java:16-23
_TWITTER_PATTERN = regex.compile(r"[@#]\w+")
# Reference: extraction/entity/SmileyTagger.java:15-49
_SMILEY_PATTERN = regex.compile(r":\)|:-\)|:\(|:-\(|;\)|;-\)|:-O|:O")
# URL tagger: Daring-Fireball-derived pattern (reference:
# UrlHelper.java:105-110) over the FULL IANA TLD registry in the
# reference's load order (kernels/tlds.py) — alternation order is part of
# the matching preference, so it is preserved. Golden-gated against the
# actual Java UrlTagger in tests/test_date_url_taggers.py.
from .tlds import TOP_LEVEL_DOMAINS

_URL_PATTERN = regex.compile(
    r"\b(?:https?://)?([0-9a-zäöü-]{1,63}?\.)+(?:"
    + "|".join(TOP_LEVEL_DOMAINS)
    + r")"
    r"(?:[?/](?:\([^\s()<>\[\]\"']{0,255}\)|[^\s()<>\[\]\"']{0,255})+"
    r"(?:\([^\s()<>\[\]\"']{0,255}\)|[^\s.,;!?:()<>\[\]\"'])|/|\b)",
    regex.IGNORECASE,
)

URI_TAG = "URI"
DATETIME_TAG = "DATETIME"
TWITTER_TAG = "TWITTER"
SMILEY_TAG = "SMILEY"


def twitter_tag(text: str) -> list[Annotation]:
    return regex_tag(text, _TWITTER_PATTERN, TWITTER_TAG)


def smiley_tag(text: str) -> list[Annotation]:
    return regex_tag(text, _SMILEY_PATTERN, SMILEY_TAG)


def url_tag(text: str) -> list[Annotation]:
    return regex_tag(text, _URL_PATTERN, URI_TAG)


# Date/time tagger over common date shapes (reference: DateAndTimeTagger.java
# :25-61 with RegExp.ALL_DATE_FORMATS; we compile the frequent textual+ISO
# formats — sufficient for the NER pipeline, whose defaults leave
# tagDates=false, PalladianNerTaggingSettings.java:38).
_MONTH_LONG = (
    "[Jj]anuary|[Ff]ebruary|[Mm]arch|[Aa]pril|[Mm]ay|[Jj]une|[Jj]uly|[Aa]ugust|"
    "[Ss]eptember|[Oo]ctober|[Nn]ovember|[Dd]ecember"
)
_DATE_PATTERN = regex.compile(
    r"\d{4}-\d{2}-\d{2}"
    r"|(?:" + _MONTH_LONG + r")\s\d{1,2}(?:st|nd|rd|th)?,?\s\d{4}"
    r"|\d{1,2}\s(?:" + _MONTH_LONG + r")\s\d{4}"
    r"|\d{1,2}/\d{1,2}/\d{2,4}"
)


def date_tag(text: str) -> list[Annotation]:
    return regex_tag(text, _DATE_PATTERN, DATETIME_TAG)


from functools import lru_cache


@lru_cache(maxsize=16)
def dictionary_matcher(
    items: tuple[tuple[str, str], ...], case_sensitive: bool = False
):
    """Compile a gazetteer into ONE combined alternation + tag lookup.

    Entries are sorted longest-first inside the alternation, so a single
    left-to-right finditer pass picks, at every position, the longest
    dictionary entry that matches — exactly what the reference's
    collect-all-matches + removeNested (earliest start, longest span)
    produces, without O(|gazetteer|) regex passes per document
    (DictionaryTagger.java:24-83 runs one Pattern per entry; at 10^5
    entries that is a scale-killer — one automaton scan is the §2.2
    mapping SURVEY prescribes).

    Cached per (gazetteer, case_sensitivity): compiles once per executor
    process, like the reference's static Pattern constants.
    """
    flags = 0 if case_sensitive else regex.IGNORECASE
    entries = [e for e, _ in items if len(e) > 1]
    if not entries:
        return None, {}
    alternation = "|".join(
        regex.escape(e) for e in sorted(entries, key=len, reverse=True)
    )
    pattern = regex.compile(r"(?<!\w)(?:" + alternation + r")(?!\w)", flags)
    # Dictionary-order semantics on case-insensitive key collisions: the
    # reference emits one match per entry pattern, and removeNested keeps
    # the FIRST (earliest-added) at identical spans — so the first entry
    # whose folded key collides wins, not the last.
    lookup: dict[str, str] = {}
    for e, t in items:
        if len(e) > 1:
            lookup.setdefault(e if case_sensitive else e.lower(), t)
            if not case_sensitive:
                # secondary casefold key: IGNORECASE matches Unicode
                # case-fold pairs whose .lower() differs from the entry's
                # folded key (e.g. 'ſ' vs 's'), so the primary lookup can
                # miss a genuine match of THIS entry
                lookup.setdefault(e.casefold(), t)
    return pattern, lookup


def dictionary_tag(
    text: str, dictionary: dict[str, str], case_sensitive: bool = False
) -> list[Annotation]:
    """Exact gazetteer matching with word boundaries (leftmost-longest).

    Reference: extraction/DictionaryTagger.java:24-83 — per entry pattern
    ``(?<!\\w)QUOTED(?!\\w)``, entries shorter than 2 chars skipped, nested
    spans removed. The single-automaton scan (see dictionary_matcher) is
    output-equivalent: removeNested keeps the earliest-start, longest-span
    match, which is exactly what a leftmost-longest non-overlapping scan
    emits.
    """
    pattern, lookup = dictionary_matcher(
        tuple(dictionary.items()), case_sensitive
    )
    if pattern is None:
        return []
    # Tag resolution: exact/lower key first, then the casefold key (Unicode
    # case-fold edges like 'ſ'->'s' or 'İ'.lower()'s combining-dot sequence
    # miss the .lower() key while IGNORECASE still matches). The final
    # fallback must not raise inside an executor UDF; first entry's tag.
    default_tag = next(iter(lookup.values()))

    def _tag(matched: str) -> str:
        if case_sensitive:
            return lookup.get(matched, default_tag)
        t = lookup.get(matched.lower())
        if t is None:
            t = lookup.get(matched.casefold(), default_tag)
        return t

    return [
        Annotation(m.start(), m.group(), _tag(m.group()))
        for m in pattern.finditer(text)
    ]
