"""Tokenization and string helpers.

Semantics follow the reference implementation (cited per function with
reference file:line under /root/reference) but are written from scratch in
Python with the `regex` module (needed for \\p{..} classes and
variable-length lookbehinds that Python's `re` lacks).
"""

from __future__ import annotations

import unicodedata
from typing import Iterable, Iterator

import regex

# ---------------------------------------------------------------------------
# Token split regex
# Reference: palladian-core .../extraction/token/Tokenizer.java:27
# Word-level tokenizer: abbreviations ("U.S."), words with internal -., chars,
# ".net"-style, "<tag>", "$22.40", punctuation runs.
# ---------------------------------------------------------------------------
TOKEN_SPLIT_REGEX = (
    r"(?:[A-Z][a-z]?\.)+"
    r"|[\p{L}\w+]+(?:[-\.,][\p{L}\w]+)*"
    r"|\.[\p{L}\w]+"
    r"|</?[\p{L}\w]+>"
    r"|\$\d+\.\d+"
    r"|[^\w\s<]+"
)

# WordTokenizer compiles the pattern DOTALL | CASE_INSENSITIVE
# (reference: extraction/token/WordTokenizer.java:19).
_TOKEN_PATTERN = regex.compile(TOKEN_SPLIT_REGEX, regex.DOTALL | regex.IGNORECASE)

# Sentence splitter (reference: Tokenizer.java:30); variable-length
# lookbehind requires the `regex` module.
SENTENCE_SPLIT_REGEX_EN = (
    r"(?<!(\.|\()|([A-Z]\.[A-Z]){1,10}|St|Mr|mr|Vers|Dr|dr|Prof|Nr|Rev|Mrs|mrs|Jr|jr|vs"
    r"| eg|e\.g|ca|max|Min|etc| sq| ft)"
    r"((\.|\?|\!)(’|”|\")+(?=\s+[A-Z])|\.|\?+|\!+)"
    r"(?!(\.|[0-9]|\"|”|'|\)|[!?]|(com|de|fr|uk|au|ca|cn|org|net)/?\s|\()"
    r"|[A-Za-z]{1,15}\.|[A-Za-z]{1,15}\(\))"
)
_SENTENCE_PATTERN_EN = regex.compile(SENTENCE_SPLIT_REGEX_EN)

# German sentence splitter (reference: Tokenizer.java:31) — same structure
# as the English one with the German abbreviation lookbehind set.
SENTENCE_SPLIT_REGEX_DE = (
    r"(?<!(\.|\()|([A-Z]\.[A-Z]){1,10}|St|[mM]r|[dD]r|Ca|Mio|Mind|u\.A|Inkl|Vers|Prof|[mM]s"
    r"|zusätzl|äquiv|komp|quiet|elektr\.|[jJ]r|vs|ca|engl|evtl|max|mind.|etc|Nr|Rev| sog"
    r"| ident|bzw|i\.d\.R|v\.a|u\.v\.m|o\.k|zzgl|Min|Keyb|Elec|bspw|bsp|m\.E|bezügl|bzgl"
    r"|inkl|exkl|ggf|z\.\s?[bB]| max| min|\s[a-z]|u\.s\.w|u\.\s?a|d\.h)"
    r"((\.|\?|\!)(”|\")\s[A-Z]|\.|\?+|\!+)"
    r"(?!(\.|[0-9]|\"|”|'|\)| B\.|[!?]|(com|de|fr|uk|au|ca|cn|org|net)/?\s|\()"
    r"|[A-Za-z]{1,15}\.|[A-Za-z]{1,15}\(\))"
)
_SENTENCE_PATTERN_DE = regex.compile(SENTENCE_SPLIT_REGEX_DE)


def replace_protected_space(text: str) -> str:
    """U+00A0 -> plain space (reference: StringHelper.java:642-644)."""
    return text.replace(" ", " ")


def iterate_tokens(text: str) -> Iterator[tuple[int, str]]:
    """Yield (start, value) word tokens (reference: WordTokenizer.java:17-36)."""
    for m in _TOKEN_PATTERN.finditer(text):
        yield m.start(), m.group()


def tokenize(text: str) -> list[str]:
    """Token values only (reference: Tokenizer.java:46-49)."""
    return [v for _, v in iterate_tokens(text)]


def split_sentences_de(text: str) -> list[str]:
    """German sentence split (Tokenizer.java:31 SENTENCE_SPLIT_REGEX_DE)."""
    return _split_sentences(text, _SENTENCE_PATTERN_DE)


def _split_sentences(text: str, pattern) -> list[str]:
    sentences = []
    last = 0
    for m in pattern.finditer(text):
        end = m.end()
        chunk = text[last:end].strip()
        if chunk:
            sentences.append(chunk)
        last = end
    tail = text[last:].strip()
    if tail:
        sentences.append(tail)
    return sentences


# ---------------------------------------------------------------------------
# Character n-grams
# ---------------------------------------------------------------------------
PADDING_CHARACTER = "#"


def char_ngrams(text: str, min_n: int, max_n: int, padding: bool = False) -> list[str]:
    """All char n-grams of length min_n..max_n, in reference iteration order.

    Reference: CharacterNGramTokenizer.java:34-63 — for each offset, emit
    lengths min..max (shorter first), advance offset when the window hits the
    text end or max length; skip all-padding grams. Order matters because the
    classifier caps terms at first-seen maxTerms.
    """
    if padding:
        pad = PADDING_CHARACTER * (max_n - 1)
        text = pad + text + pad
    out = []
    n = len(text)
    offset = 0
    length = min_n
    while offset + min_n <= n:
        gram = text[offset : offset + length]
        if offset + length == n or length == max_n:
            offset += 1
            length = min_n
        else:
            length += 1
        if gram.replace(PADDING_CHARACTER, "") == "":
            continue
        out.append(gram)
    return out


def word_ngrams(tokens: list[str], min_n: int, max_n: int) -> list[str]:
    """Word n-grams joined by single spaces over a token stream.

    Reference: NGramWrapperIterator.java:13-56 — per window position, emit
    lengths min..max (bounded by remaining tokens), then slide by one.
    """
    out = []
    n = len(tokens)
    for i in range(n):
        if n - i < min_n:
            break
        for length in range(min_n, min(max_n, n - i) + 1):
            out.append(" ".join(tokens[i : i + length]))
    return out


def skip_grams(ngrams: list[str], separator: str = " ") -> list[str]:
    """Interleave each n-gram with its skip-gram (first + separator + last
    word) when the n-gram spans more than two words.

    Reference: SkipGramWrapperIterator.java:13-56 — the wrapper emits the
    original token, then (for 3+-word tokens) a skip-gram built from the
    first and last whitespace-split parts.
    """
    out = []
    for gram in ngrams:
        out.append(gram)
        split = regex.split(r"\s", gram)
        if len(split) > 2:
            out.append(split[0] + separator + split[-1])
    return out


def char_edge_ngrams(text: str, n: int, must_hit_left_edge: bool = False) -> set[str]:
    """Char n-grams touching a word edge only (search-index style).

    Reference: extraction/token/Tokenizer.java:96-121
    (calculateCharEdgeNGrams) — of all offsets, keep only i==0 (left edge)
    and i==len-n (right edge); with must_hit_left_edge only the left one.
    'pROTector' must not yield 'rot', 'Sleeve' must not yield 'ee'.
    """
    length = len(text)
    if length < n:
        return set()
    if must_hit_left_edge:
        return {text[:n]}
    return {text[:n], text[length - n :]}


def all_char_edge_ngrams(
    text: str, n1: int, n2: int, must_hit_left_edge: bool = False
) -> set[str]:
    """Union of edge n-grams for n in [n1..n2] over space-split parts.

    Reference: Tokenizer.java:65-78 (calculateAllCharEdgeNGrams) — Java
    String.split(" "): single-space separator, empty parts contribute
    nothing (len < n for any n >= 1).
    """
    out: set[str] = set()
    for part in text.split(" "):
        for n in range(n1, n2 + 1):
            out |= char_edge_ngrams(part, n, must_hit_left_edge)
    return out


# ---------------------------------------------------------------------------
# Case signature / casing helpers
# ---------------------------------------------------------------------------
def _char_signature(ch: str) -> str:
    """Reference: StringHelper.getCharSignature (StringHelper.java:1849-1868)."""
    if ch.isupper():
        return "A"
    if ch.islower():
        return "a"
    if ch.isdigit():
        return "0"
    if ch.isspace():
        return " "
    return "-"


def case_signature(text: str) -> str:
    """Run-length case signature, e.g. "iPhone 4" -> "aAa 0".

    Reference: StringHelper.getCaseSignature (StringHelper.java:1827-1846).
    """
    out = []
    prev = None
    for ch in text:
        sig = _char_signature(ch)
        if prev is None or sig != prev:
            out.append(sig)
        prev = sig
    return "".join(out)


def is_completely_uppercase(text: str) -> bool:
    """True if all chars are uppercase letters, quote punctuation, or spaces.

    Reference: StringHelper.isCompletelyUppercase (StringHelper.java:819-834).
    """
    s = text.strip()
    if not s:
        return False
    for ch in s:
        if ch == " ":
            continue
        cat = unicodedata.category(ch)
        if cat not in ("Lu", "Pi", "Pf"):
            return False
    return True


def starts_uppercase(text: str) -> bool:
    return bool(text) and text[0].isupper()


def java_split_whitespace(text: str) -> list[str]:
    """Java ``String.split("\\\\s")``: single-char splits, trailing empties
    removed, leading/inner empties kept."""
    parts = regex.split(r"\s", text)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def get_sub_phrases(text: str) -> list[str]:
    """All consecutive-word sub-spans, reference order (outer loop = start
    word, inner loop = end word). Reference: StringHelper.java:2062-2082."""
    split = java_split_whitespace(text)
    phrases = []
    for i in range(len(split)):
        for j in range(i, len(split)):
            phrase = " ".join(split[i : j + 1])
            if phrase:
                phrases.append(phrase)
    return phrases


def contains_word_cs(word: str, search_string: str) -> bool:
    """Whole-word containment, case-sensitive.

    Reference: StringHelper.containsWordCaseSensitive{,Recursive}
    (StringHelper.java:472-515) — word boundaries are non-letter/digit.
    """
    if word == "":
        return False
    start = 0
    while True:
        index = search_string.find(word, start)
        if index == -1:
            return False
        left_ok = index == 0 or not (
            search_string[index - 1].isalpha() or search_string[index - 1].isdigit()
        )
        right = index + len(word)
        right_ok = right >= len(search_string) or not (
            search_string[right].isalpha() or search_string[right].isdigit()
        )
        if left_ok and right_ok:
            return True
        start = index + 1


def contains_word(word: str, search_string: str) -> bool:
    """Case-insensitive variant (reference: StringHelper.java:517-519)."""
    return contains_word_cs(word.lower(), search_string.lower())


def any_contains_word(words: Iterable[str], search_string: str) -> bool:
    """Reference: StringHelper.containsWord(Collection,...) (:351-358)."""
    return any(contains_word(w, search_string) for w in words)


def is_punctuation(ch: str) -> bool:
    """Reference: StringHelper.isPunctuation (StringHelper.java:529-531)."""
    return ch in ".,:;?!"


def detect_sentences(text: str) -> list[tuple[int, str]]:
    """Sentence detection with URL/date/smiley masking.

    Reference: PalladianSentenceDetector.java:33-129 — URLs, dates, and
    smileys are masked to same-length filler ('M' runs, :71-84) so the
    sentence-split regex cannot fire inside them; boundaries are found on
    the masked text and sentences are cut from the ORIGINAL text at those
    offsets. Returns (start_offset, sentence) pairs.
    """
    from .dateformats import DATES_WITH_DOTS, date_time_tag_full
    from .tagging import smiley_tag, url_tag

    masked = list(text)
    # the reference masks with the dots-bearing date formats only
    # (PalladianSentenceDetector.java:41-57)
    date_annotations = date_time_tag_full(text, DATES_WITH_DOTS)
    for a in url_tag(text) + date_annotations + smiley_tag(text):
        for i in range(a.start, a.end):
            masked[i] = "M"
    masked_text = "".join(masked)

    sentences: list[tuple[int, str]] = []

    def add(chunk_start: int, chunk_end: int) -> None:
        raw = text[chunk_start:chunk_end]
        stripped = raw.strip()
        if stripped:
            sentences.append((chunk_start + raw.index(stripped[0]), stripped))

    last = 0
    for m in _SENTENCE_PATTERN_EN.finditer(masked_text):
        add(last, m.end())
        last = m.end()
    add(last, len(text))
    return sentences
