"""Goldens ported from StringTaggerTest.java:13-233 (reference fixtures),
plus engine parity: every golden text and a set of hostile texts run
through both the kernel and the JVM operator (detect_mentions)."""

import pytest

from palladian_spark.kernels.tagging import string_tag

GOLDEN_TEXTS = {
    "abbreviations": (
        "the United States of America (USA) are often called the USA, the "
        "U.S.A., or simply the U.S., the U.S.S. Enterprise is a space ship."),
    "llc": (
        "The outfit that stages the festival, Black Rock City LLC, is now a "
        "$23 million-per-year concern with 40 full-time employees, hundreds of "
        "volunteers, and a non-profit arts foundation that doles out grants."),
    "names": (
        "Mr. Yakomoto, John J. Smith, and Bill Drody cooperate with T. Shéff, "
        "L.Carding, T.O'Brian, Harry O'Sullivan and O'Brody. they are partying "
        "on Saturday's night special, Friday's Night special or THURSDAY'S, in "
        "St. Petersburg there is Dr. Mark Litwin"),
    "long_names": (
        "Mayor Bobby E. Horton called the Special Council Meeting of the West "
        "Columbia Council to order on Monday, March 16, 2009 at 6 pm."),
    "composites": "Dolce & Gabana as well as S&P are companies.",
    "fill_words": (
        "the Republic of Ireland, and Return of King Arthur, the National Bank "
        "of Scotland, Erin Purcell of Boston-based Reagan Communications"),
    "dashes": (
        "Maria-Hillary Johnson lives on Chester-le-Street and Ontario-based "
        "Victor Vool, the All-England Club and Patricia Djate-Taillard were in "
        "the United Nations-sponsored ceasfire with St. Louis-based NFL coach "
        "trains in MG-Gym (MG-GYM), the Real- Rumble, TOTALLY FREE- Choice, "
        "Australia-- Germany"),
    "apostrophes": (
        "Early in 1939, Georgia O’Keeffe, the artist most famous for depicting "
        "the arid Southwest, suddenly decided to paint America’s diametrically "
        "opposite landscape — the lush tropical valleys of Hawaii."),
    "gmbh": "The Adam Opel GmbH unit is based in Germany.",
    "inc": (
        "In 2009, GM scrapped a plan — favored by Berlin — to sell a majority "
        "stake to a consortium led by Canadian auto parts maker Magna "
        "International Inc. and decided to restructure the brands itself instead."),
    "co": (
        "General Motors Co.'s Opel unit said Monday that it plans to end car "
        "production at one plant in Germany in 2016, but a slimmed-down factory "
        "may continue to make components."),
    "camel_case_and_small_start": (
        "the last ex-England, mid-SCORER player, al-Rama is a person Rami "
        "al-Sadani, the iPhone 4 is a phone. Veronica Swenston VENICE "
        "alternative Frank HERALD which was found at Universal Orlando® Resort"),
    "avenue": "Sterling Cooper is located on Madison Ave. in New York City.",
    "accents": "the city is called Yaoundé and that's a fact",
    "non_breaking_space": (
        "Up to 300,000 people in West\u00a0Virginia have been told not to drink "
        "tap water after the spill of a dangerous chemical sparked a federal "
        "emergency."),
    "l_arc_de_triomphe": "A Short History of L’Arc de Triomphe.",
}

# Inputs where the two regex dialects or the offset arithmetic could part.
HOSTILE_TEXTS = {
    "nbsp_runs": "Visit\u00a0New\u00a0York and West\u00a0\u00a0Virginia\u00a0Today",
    # U+1D41A/U+1D41B are supplementary-plane Ll letters: two UTF-16 units
    # in the JVM, one code point in Python and in Spark's length()
    "supplementary_ll": "Foo𝐚𝐛c met X𝐚𝐛c Bar and 𝐚𝐛c-Corp at Ab𝐚 Inc. there",
    "curly_apostrophes": "Georgia O’Keeffe saw L’Arc de Triomphe and America’s D’Angelo",
    "registered": "Universal Orlando® Resort and Acme® Widgets®",
    "corp_inc": "Acme Corp. Inc. bought Foo Co. Ltd and Bar Corp. Then Ave.",
    "em_space": "National Bank of Scotland\u2003Today",
    # runs long enough to overflow java.util.regex's stack without the cap
    "long_title_case_run": "Spark " * 5000,
    "long_caps_token": "AbAb" * 5000 + ".C",
    "null": None,
    "empty": "",
}


def values(text):
    return [a.value for a in string_tag(text)]


def test_abbreviations():
    assert values(GOLDEN_TEXTS["abbreviations"]) == [
        "United States of America", "USA", "USA", "U.S.A.", "U.S.", "U.S.S. Enterprise",
    ]


def test_llc():
    v = values(GOLDEN_TEXTS["llc"])
    assert len(v) == 2
    assert v[1] == "Black Rock City LLC"


def test_names():
    assert values(GOLDEN_TEXTS["names"]) == [
        "Mr. Yakomoto", "John J. Smith", "Bill Drody", "T. Shéff", "L.Carding",
        "T.O'Brian", "Harry O'Sullivan", "O'Brody", "Saturday", "Friday", "Night",
        "THURSDAY", "St. Petersburg", "Dr. Mark Litwin",
    ]


def test_long_names():
    v = values(GOLDEN_TEXTS["long_names"])
    assert len(v) == 5
    assert v[0] == "Mayor Bobby E. Horton"


def test_composites():
    assert values(GOLDEN_TEXTS["composites"]) == ["Dolce & Gabana", "S&P"]


def test_fill_words():
    assert values(GOLDEN_TEXTS["fill_words"]) == [
        "Republic of Ireland", "Return of King Arthur", "National Bank of Scotland",
        "Erin Purcell", "Boston-based", "Reagan Communications",
    ]


def test_dashes():
    assert values(GOLDEN_TEXTS["dashes"]) == [
        "Maria-Hillary Johnson", "Chester-le-Street", "Ontario-based", "Victor Vool",
        "All-England Club", "Patricia Djate-Taillard", "United Nations-sponsored",
        "St. Louis-based", "NFL", "MG-Gym", "MG-GYM", "Real", "Rumble",
        "TOTALLY FREE", "Choice", "Australia", "Germany",
    ]


def test_apostrophes():
    assert values(GOLDEN_TEXTS["apostrophes"]) == [
        "Early", "Georgia O’Keeffe", "Southwest", "America", "Hawaii",
    ]


def test_company_suffixes():
    assert values(GOLDEN_TEXTS["gmbh"])[0] == "The Adam Opel GmbH"
    assert values(GOLDEN_TEXTS["inc"])[4] == "Magna International Inc."
    assert values(GOLDEN_TEXTS["co"])[0] == "General Motors Co."


def test_camel_case_and_small_start():
    assert values(GOLDEN_TEXTS["camel_case_and_small_start"]) == [
        "ex-England", "mid-SCORER", "al-Rama", "Rami al-Sadani", "iPhone 4",
        "Veronica Swenston", "VENICE", "Frank", "HERALD", "Universal Orlando® Resort",
    ]


def test_avenue():
    v = values(GOLDEN_TEXTS["avenue"])
    assert len(v) == 3
    assert v[1] == "Madison Ave."


def test_accents():
    assert values(GOLDEN_TEXTS["accents"]) == ["Yaoundé"]


def test_non_breaking_space():
    v = values(GOLDEN_TEXTS["non_breaking_space"])
    assert len(v) == 2
    assert v[1] == "West Virginia"


def test_l_arc_de_triomphe():
    v = values(GOLDEN_TEXTS["l_arc_de_triomphe"])
    assert len(v) == 2
    assert v[1] == "L’Arc de Triomphe"


def test_unicode_space_is_not_a_pattern_space():
    # Java's \s (the reference dialect) is ASCII-only, so an em space does
    # not trip the "of"-phrase lookahead the way an ASCII space would
    assert values(HOSTILE_TEXTS["em_space"]) == ["National Bank of Scotland", "Today"]
    assert values("National Bank of Scotland Today") == [
        "National Bank", "Scotland Today",
    ]


def test_repeated_groups_are_capped_at_64():
    # a 200-word Title-Case run splits into 65-word matches (first word +
    # 64 repetitions) instead of overflowing the JVM regex stack
    assert [len(v.split()) for v in values("Spark " * 200)] == [65, 65, 65, 5]


@pytest.fixture(params=[*GOLDEN_TEXTS, *HOSTILE_TEXTS])
def text(request):
    return {**GOLDEN_TEXTS, **HOSTILE_TEXTS}[request.param]


def test_jvm_operator_matches_kernel(spark, text):
    from palladian_spark.operators.mentions import detect_mentions

    df = spark.createDataFrame([(text,)], "content string")
    got = [
        (r.start, r.end, r.value, r.tag)
        for r in detect_mentions(df, keep_cols=[]).orderBy("start").collect()
    ]
    assert got == [(a.start, a.end, a.value, a.tag) for a in string_tag(text or "")]
