"""Kernel parity vs the compiled reference PalladianSpellChecker
(goldens frozen by tools/reference_harness/build_and_run_spell.sh from
semantics/PalladianSpellChecker.java run on the same dictionary)."""

import os

import pytest

from palladian_spark.kernels.spelling import (
    SpellChecker,
    build_dictionary,
    edits,
    string_helper_trim,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def checker():
    with open(os.path.join(FIX, "spell_dict.txt"), encoding="utf-8") as f:
        return SpellChecker.from_lines(f.read().splitlines())


def _rows(name):
    with open(os.path.join(FIX, name), encoding="utf-8") as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def test_edits_shape():
    e = edits("abc")
    # deletes(3) + transpositions(2) + alternations(3*29) + insertions(4*29)
    assert len(e) == 3 + 2 + 87 + 116
    assert e[0] == "bc" and e[3] == "bac"
    assert "abcd" in e and "xbc" in e


def test_word_goldens(checker):
    rows = _rows("spell_word_golden.tsv")
    assert len(rows) >= 250
    bad = []
    for word, left, right, expected in rows:
        got = checker.correct_word(word, left or None, right or None)
        if got != expected:
            bad.append((word, left, right, expected, got))
    assert not bad, f"{len(bad)} mismatches: {bad[:10]}"


def test_text_goldens(checker):
    rows = _rows("spell_text_golden.tsv")
    assert len(rows) >= 15
    bad = []
    for text, expected in rows:
        got = checker.auto_correct(text)
        if got != expected:
            bad.append((text, expected, got))
    assert not bad, f"{len(bad)} mismatches: {bad}"


def test_trim_examples():
    assert string_helper_trim('"hello!"') == "hello"
    assert string_helper_trim("wrds!") == "wrds"
    assert string_helper_trim("(parens)") == "(parens)"  # parens not unwanted
    assert string_helper_trim("  x  ") == "x"


def test_manual_mappings_and_dict_build():
    words, ctx = build_dictionary(["Alpha beta alpha-beta gamma beta"])
    assert words["alpha"] == 1 and words["beta"] == 2
    assert words["alpha-beta"] == 1
    assert ctx["alpha_beta"] == 1 and ctx["gamma_beta"] == 1
    # Java's [\w\p{L}-] excludes Nl/No characters (superscripts, roman numerals)
    assert build_dictionary(["x²y ⅻ"]) == ({"x": 1, "y": 1}, {"x_y": 1})
    sc = SpellChecker(words, ctx)
    sc.add_manual_mapping("cov", "cow")
    sc.add_manual_mapping("i pad", "ipad")
    assert sc.correct_word("cov", None, None) == "cow"
    assert sc.correct_word("Cov", None, None) == "Cow"
    assert sc.auto_correct("buy my i pad now") == "buy my ipad now"


def test_german_compound_support():
    # PalladianSpellChecker.java:395-419: when compound support is on and
    # no strong candidate exists, a word whose compound parts (or their
    # singulars) are all known is returned UNCHANGED instead of corrected
    from palladian_spark.kernels.morphology import GermanMorphology

    from palladian_spark.kernels.spelling import SpellChecker, build_dictionary

    # morphology knows "kette" (so splitting peels it off the tail);
    # the dictionary knows the PARTS and a near-miss full form, but not
    # the compound itself
    gm = GermanMorphology(["x\tkette\tf\tketten"])
    assert gm.split_compound_words("goldkette") == ["gold", "kette"]
    words, ctx = build_dictionary(["gold kette ketten goldketten"])
    plain = SpellChecker(words, ctx)
    compound = SpellChecker(
        words, ctx, german_morphology=gm, german_compound_support=True
    )
    # "goldkette" is NOT in the dict; without compound support the
    # distance-1 edit "goldketten" (count 1) wins; with it, the split
    # [gold, kette] is all-known -> word returned unchanged
    assert plain.correct_word("goldkette", None, None) == "goldketten"
    assert compound.correct_word("goldkette", None, None) == "goldkette"
    # a compound with an unknown head is NOT compound-protected: "silber"
    # is neither in the dict nor singularizable, so correction proceeds
    # (no distance-1/2 dictionary hit here -> unchanged)
    assert compound.correct_word("xyzkette", None, None) == "xyzkette"
