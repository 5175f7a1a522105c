"""Unit tests for the scalar function library, pinned to the reference's
golden values (reference tests/test_odgovlt.py:362-399)."""

from __future__ import annotations

import random
import re
import string

import pytest
from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.functions import text as textmod
from opendata_gov_lt_mysql_import_spark.functions.text import (
    TransliterationTableError,
    fixcase,
    get_package_tags,
    slug_tables,
    slugify,
    slugify_col,
    tagify,
    transliterate,
)

GOLDEN_TITLE = (
    "Radiacinės saugos centro išduotų galiojančių "
    "licencijų verstis veikla su jonizuojančiosios spinduliuotės "
    "šaltiniais duomenys"
)


class TestSlugify:
    def test_golden_truncation(self):
        # reference tests/test_odgovlt.py:391-399
        assert slugify(GOLDEN_TITLE, length=42) == "radiacines-saugos--duomenys-saltiniais"
        assert len(slugify(GOLDEN_TITLE, length=42)) < 42

    def test_empty(self):
        assert slugify() == ""
        assert slugify(None) == ""
        assert slugify("") == ""

    def test_no_truncation_under_budget(self):
        assert slugify("Šiluma ir dujos") == "siluma-ir-dujos"

    def test_name_with_id_suffix(self):
        # reference group naming: slugify(PAVADINIMAS + ' ' + str(ID))
        assert slugify("Testas1 1") == "testas1-1"

    def test_special_chars_stripped(self):
        assert slugify("a,b.c!d?e(f)g 1-2") == "abcdefg-1-2"

    def test_truncation_boundary_exact_length(self):
        assert slugify("x" * 90) == "x" * 90
        out = slugify("x" * 91, length=90)
        assert out.startswith("x" * 90) is False  # truncated form contains '--'
        assert "--" in out


# Python's \s over ASCII: Java's \s lacks \x1c-\x1f, Spark's trim all but " "
PY_ASCII_SPACE = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "


def _slug_cases() -> list[str | None]:
    """10,000 seeded draws, every non-ASCII code point with a non-empty
    slug image (found from ``transliterate`` code point by code point, not
    from ``slug_tables``) and the edge cases."""
    keys = [
        ch
        for ch in map(chr, range(128, 0x110000))
        if not 0xD800 <= ord(ch) <= 0xDFFF and re.sub(r"[^\w\s-]", "", transliterate(ch))
    ]
    rng = random.Random(20261020)

    def any_point() -> str:  # the whole range, astral included, no surrogates
        cp = rng.randrange(1, 0x110000 - 0x800)
        return chr(cp + 0x800 if cp >= 0xD800 else cp)

    pickers = [
        any_point,
        lambda: rng.choice(keys),
        lambda: chr(rng.randrange(1, 128)),
        lambda: rng.choice(string.ascii_letters + string.digits),
        lambda: rng.choice(string.ascii_letters + string.digits),
    ]
    seps = [" ", "-", "--", " - ", ",", "\u3000", *PY_ASCII_SPACE]

    def draw() -> str:
        words = (
            "".join(rng.choice(pickers)() for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(1, 24))
        )
        edge = rng.choice(["", "", "-", " ", *PY_ASCII_SPACE])
        return edge + "".join(w + rng.choice(seps) for w in words) + rng.choice(["", edge])

    # each entry between letters, so an image that is a space or "-" shows
    entries = [" ".join(f"x{k}x" for k in keys[i:i + 8]) for i in range(0, len(keys), 8)]
    edges = [
        # ICU 77 (Spark's) folds U+1CCD6 to "A"; Python 3.11's NFKD keeps it
        None, "", "\U0001CCD6", "A\U0001CCD6B",
        "a\x1cb", "\x0bx\x0b", "\x1cA\x1dB\x1e", "\x1f-\x1f", " \x1ca b\x1f ",
        "-", "---", "a---b", "-a-", "a - - b", "- -", "-" * 100, "x" * 91,
        GOLDEN_TITLE,
    ]
    return [draw() for _ in range(10_000)] + entries + edges


def test_slugify_col_matches_slugify(spark):
    """``slugify_col`` equals ``slugify`` (NULL stays NULL) on every case
    at the three budgets: one collect per budget."""
    cases = _slug_cases()
    df = spark.createDataFrame(list(enumerate(cases)), "i int, s string")
    for length in (10, 42, 90):
        got = dict(df.select("i", slugify_col(F.col("s"), length)).collect())
        bad = [
            (cases[i], got[i])
            for i in range(len(cases))
            if got[i] != (None if cases[i] is None else slugify(cases[i], length))
        ]
        assert not bad, f"{len(bad)} mismatches at length {length}, first: {bad[:3]!r}"


@pytest.mark.parametrize(
    "backend,message",
    [
        # unidecode's shape: whole scripts map to multi-char strings
        (lambda s: "".join(c if c.isascii() else "zh" for c in s), "the bounds are"),
        # an image the ASCII-only slug steps would mangle
        (lambda s: s.replace("é", "ë"), "non-ASCII"),
    ],
)
def test_slug_tables_refuse_a_backend_they_cannot_fold(monkeypatch, backend, message):
    monkeypatch.setattr(textmod, "transliterate", backend)
    slug_tables.cache_clear()
    try:
        with pytest.raises(TransliterationTableError, match=message):
            slug_tables()
    finally:
        slug_tables.cache_clear()


class TestFixcase:
    def test_golden(self):
        # reference tests/test_odgovlt.py:362-363
        assert fixcase("Testas9") == "testas9"

    def test_acronym_protected(self):
        assert fixcase("VMI") == "VMI"

    def test_short_and_nonalpha(self):
        assert fixcase("A") == "A"
        assert fixcase("1b") == "1b"
        assert fixcase("a1") == "a1"
        assert fixcase("") == ""

    def test_lithuanian(self):
        assert fixcase("Šiluma") == "šiluma"


class TestTagify:
    def test_collapses_nonword(self):
        assert tagify('licencijuojamos; veiklos... teritorija') == (
            "licencijuojamos veiklos teritorija"
        )

    def test_unicode_word_chars_kept(self):
        assert tagify("šilumos tiekėjai") == "šilumos tiekėjai"


class TestGetPackageTags:
    def test_golden_filtering(self):
        # reference tests/test_odgovlt.py:364-375
        tags = get_package_tags(
            "a" * 120 + ",testas2 testas3, testas4 testas5; testas6"
        )
        assert tags == ["testas2 testas3", "testas4 testas5", "testas6"]

    def test_golden_lithuanian_with_zwsp(self):
        # leading zero-width space survives the pipeline
        t = get_package_tags(
            "​Šilumos tiekimo licencijas turinčių įmonių sąrašas,"
            "šiluma,šilumos tiekėjai,licencijos,"
            "licencijuojamos veiklos teritorija"
        )
        assert sorted(t) == [
            "licencijos",
            "licencijuojamos veiklos teritorija",
            "šiluma",
            "šilumos tiekimo licencijas turinčių įmonių sąrašas",
            "šilumos tiekėjai",
        ]

    def test_short_tag_dropped(self):
        assert get_package_tags('keliai,eismo intensyvumas,"e"') == [
            "keliai",
            "eismo intensyvumas",
        ]

    def test_empty_inputs(self):
        assert get_package_tags(None) == []
        assert get_package_tags("") == []


class TestTransliterate:
    @pytest.mark.parametrize(
        "src,expected",
        [
            ("ąčęėįšųūž", "aceeisuuz"),
            ("ĄČĘĖĮŠŲŪŽ", "ACEEISUUZ"),
            ("Radiacinės", "Radiacines"),
            ("ascii stays", "ascii stays"),
            ("øßł", "ossl"),
        ],
    )
    def test_table(self, src, expected):
        # must hold on BOTH paths: the unidecode package (when installed)
        # and the table+NFKD fallback
        assert transliterate(src) == expected

    @pytest.mark.parametrize(
        "src,expected",
        [
            ("ąčęėįšųūž", "aceeisuuz"),
            ("Radiacinės", "Radiacines"),
            ("øßł", "ossl"),
            ("café naïve", "cafe naive"),
        ],
    )
    def test_fallback_path(self, src, expected, monkeypatch):
        """Pin the dependency-free path explicitly, so an environment that
        does have unidecode still exercises the fallback."""
        import opendata_gov_lt_mysql_import_spark.functions.text as textmod

        monkeypatch.setattr(textmod, "_unidecode", None)
        assert transliterate(src) == expected

    def test_unidecode_path_when_available(self):
        """When the real package is importable, it handles scripts the
        fallback can't (Cyrillic/Greek); otherwise the fallback's known
        limitation is documented: non-decomposable scripts drop to ''."""
        try:
            import unidecode  # noqa: F401
        except ImportError:
            assert transliterate("привет") == ""
        else:
            assert transliterate("привет") == "privet"


class TestSqlUdfLibrary:
    """functions/sql_udfs.py: the SQL-UDF forms must agree with the
    Python/Column forms on the SAME golden inputs, including the
    unicode-sensitive Lithuanian cases the driver oracle (ASCII
    fixture) never exercises."""

    def test_sql_udfs_match_python_goldens(self, spark):
        from opendata_gov_lt_mysql_import_spark.functions.sql_udfs import (
            register_sql_functions,
        )

        register_sql_functions(spark)
        cases = ["Testas9", "VMI", "A", "1b", "a1", "Šiluma", "ŠILUMA"]
        got = {
            r["s"]: r["f"]
            for r in spark.createDataFrame([(c,) for c in cases], "s string")
            .selectExpr("s", "fixcase(s) AS f")
            .collect()
        }
        for c in cases:
            assert got[c] == fixcase(c), c

        tag_cases = [
            "licencijuojamos; veiklos... teritorija",
            "šilumos tiekėjai",
        ]
        got_t = {
            r["s"]: r["t"]
            for r in spark.createDataFrame([(c,) for c in tag_cases], "s string")
            .selectExpr("s", "tagify(s) AS t")
            .collect()
        }
        for c in tag_cases:
            assert got_t[c] == tagify(c), c

    def test_sql_udf_inlines_into_plan(self, spark):
        """SQL UDFs are macros: the call must leave no UDF/python node in
        the physical plan — just the inlined CASE expression."""
        from opendata_gov_lt_mysql_import_spark.functions.sql_udfs import (
            register_sql_functions,
        )

        register_sql_functions(spark)
        df = spark.range(5).selectExpr("fixcase(CAST(id AS STRING)) AS f")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
