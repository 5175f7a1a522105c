"""Text scalar functions with the reference engine's exact semantics.

Reference behaviors reproduced (cited for parity checks, not copied —
re-derived from observed behavior and the golden tests):

- ``fixcase``            — /root/reference/odgovlt.py:32-36
- ``slugify``            — /root/reference/odgovlt.py:39-71 (golden:
  ``slugify(<long LT title>, 42) == 'radiacines-saugos--duomenys-saltiniais'``,
  tests/test_odgovlt.py:391-399)
- ``tagify``             — /root/reference/odgovlt.py:74-76
- ``get_package_tags``   — /root/reference/odgovlt.py:79-94 (golden:
  tests/test_odgovlt.py:364-375)

Each has a pure-Python form, the spec and the unit tests' oracle, and a
Spark ``Column`` form built from JVM-side expressions. ``slugify_col`` is
the one whose semantics took work to move: ``transliterate`` works code
point by code point, so ``slug_tables`` derives its per-code-point images
once per process (one-to-one images for ``translate``, multi-char ones
for one map lookup) and ``_SLUGIFY_SQL`` spells the rest of the slug and
the front/back greedy truncation as one SQL lambda. No plan built from
this module runs a Python worker.
"""

from __future__ import annotations

import functools
import itertools
import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# transliteration (stand-in for the unidecode dependency)
# ---------------------------------------------------------------------------

# Characters NFKD cannot decompose to ASCII base letters. Covers the Baltic /
# central-European range the source data (Lithuanian catalog) uses, plus
# common western-European strays. Everything else goes through NFKD + combining-mark
# stripping, which handles all Lithuanian diacritics (ąčęėįšųūž).
_TRANSLIT_TABLE = {
    "Đ": "D", "đ": "d", "Ð": "D", "ð": "d",
    "Ø": "O", "ø": "o",
    "Ł": "L", "ł": "l",
    "Æ": "AE", "æ": "ae",
    "Œ": "OE", "œ": "oe",
    "ß": "ss",
    "Þ": "Th", "þ": "th",
    "Ħ": "H", "ħ": "h",
    "İ": "I", "ı": "i",
    "Ŧ": "T", "ŧ": "t",
    "Ŋ": "N", "ŋ": "n",
    "–": "-", "—": "-", "‘": "'", "’": "'", "“": '"', "”": '"',
}


# The reference depends on the real `unidecode` package (odgovlt.py:42,
# setup.py). Use it when importable — full Cyrillic/Greek/CJK coverage —
# and keep the table+NFKD path as the dependency-free fallback (identical
# output on the Lithuanian/Baltic domain, golden-tested).
try:  # pragma: no cover - environment-dependent
    from unidecode import unidecode as _unidecode
except ImportError:
    _unidecode = None


def transliterate(value: str) -> str:
    """Best-effort unicode→ASCII (unidecode when available, else a
    Baltic-coverage table + NFKD combining-mark stripping)."""
    if _unidecode is not None:
        return _unidecode(value)
    out = []
    for ch in value:
        if ord(ch) < 128:
            out.append(ch)
            continue
        mapped = _TRANSLIT_TABLE.get(ch)
        if mapped is not None:
            out.append(mapped)
            continue
        decomp = unicodedata.normalize("NFKD", ch)
        out.append("".join(c for c in decomp if not unicodedata.combining(c) and ord(c) < 128))
    return "".join(out)


# ---------------------------------------------------------------------------
# F1 fixcase
# ---------------------------------------------------------------------------

def fixcase(value: str) -> str:
    """Lowercase the first character iff the value starts Upper+lower
    (two alphabetic chars) — protects acronyms like 'VMI'."""
    if (
        len(value) > 1
        and value[:2].isalpha()
        and value[0].isupper()
        and value[1].islower()
    ):
        return value[0].lower() + value[1:]
    return value


def fixcase_col(c: Column) -> Column:
    """JVM-side fixcase. ``(?U)`` keeps Java regex classes unicode-aware so
    Lithuanian letters count as alphabetic, matching Python str semantics."""
    first = F.substring(c, 1, 1)
    second = F.substring(c, 2, 1)
    cond = (
        (F.length(c) > 1)
        & first.rlike(r"^(?U)\p{L}$")
        & second.rlike(r"^(?U)\p{L}$")
        & first.rlike(r"^\p{Lu}$")
        & second.rlike(r"^\p{Ll}$")
    )
    return F.when(cond, F.concat(F.lower(first), F.substring(c, 2, 0x7FFFFFFF))).otherwise(c)


# ---------------------------------------------------------------------------
# F2 slugify (with the golden-tested front/back truncation)
# ---------------------------------------------------------------------------

_SLUG_DROP = re.compile(r"[^\w\s-]")
_SLUG_SEP = re.compile(r"[-\s]+")


def slugify(title: str | None = None, length: int = 90) -> str:
    """ASCII slug with budgeted truncation.

    When the slug exceeds ``length``, words are taken greedily alternating
    from the front and the back (separator cost 0 for the first word, then
    2, 3, 4, …), the front 60% split point bounding how deep each side can
    reach; output is ``front-words--back-words`` with back words in reverse
    document order. Golden-pinned by the reference's own unit test.
    """
    if not title:
        return ""

    slug = _SLUG_DROP.sub("", transliterate(title)).strip().lower()
    slug = _SLUG_SEP.sub("-", slug)

    if len(slug) > length:
        left: list[str] = []
        right: list[str] = []
        words = slug.split("-")
        split = int(len(words) * 0.6)
        pairs = itertools.zip_longest(
            ((i, left) for i in range(split)),
            ((i, right) for i in range(len(words) - 1, split - 1, -1)),
        )
        slots = (s for s in itertools.chain.from_iterable(pairs) if s is not None)
        total = 0
        for sep_cost, (i, side) in zip(itertools.chain([0], itertools.count(2)), slots):
            if total + len(words[i]) + sep_cost > length:
                break
            side.append(words[i])
            total += len(words[i])
        slug = "-".join(left) + "--" + "-".join(right)

    return slug


class TransliterationTableError(ValueError):
    """``transliterate`` does not fold into the bounded per-code-point
    tables that ``slugify_col`` compiles into its expression."""


# Bounds on the tables compiled into every ``slugify_col`` expression, so
# its SQL text and the map Catalyst folds from it stay small by
# construction. The table+NFKD backend yields 1,706 one-to-one and 293
# multi-char entries. An installed ``unidecode`` maps CJK and many other
# scripts to multi-char strings, tens of thousands of them, and is
# refused here rather than compiled into a megabyte-sized expression.
MAX_ONE_TO_ONE = 4096
MAX_MULTI_CHAR = 1024


def _images():
    """(code point, ``transliterate`` image) for every code point but NUL
    and the surrogates: one call per block of 4,096 NUL-joined code
    points, so the derivation never holds a million strings at once (one
    call over all of them raised the Python process's peak RSS by 120 MiB)."""
    for lo in range(1, 0x110000, 4096):
        hi = min(lo + 4096, 0x110000)
        points = [chr(i) for i in range(lo, hi) if not 0xD800 <= i <= 0xDFFF]
        images = transliterate("\0".join(points)).split("\0")
        if len(images) != len(points):
            raise TransliterationTableError(
                f"transliterate mapped {len(points)} NUL-joined code points to "
                f"{len(images)} pieces; it must work code point by code point"
            )
        yield from zip(points, images)


@functools.lru_cache(maxsize=None)
def slug_tables() -> tuple[dict[str, str], dict[str, str]]:
    """Per-code-point images of slugify's first two steps
    (``transliterate``, then the ``_SLUG_DROP`` filter) for every
    non-ASCII code point whose image is not empty, split into one-to-one
    and multi-char images. Any other non-ASCII code point is deleted.

    Derived once per process from ``transliterate`` itself (``_images``;
    about 0.6 s on the table+NFKD backend). This relies on
    ``transliterate`` working code point by code point, as both backends
    do; NUL and every ASCII character must map to themselves, and every
    image must be ASCII. Raises ``TransliterationTableError`` when any of
    that fails or a table outgrows ``MAX_ONE_TO_ONE`` /
    ``MAX_MULTI_CHAR``. The ``unidecode`` backend is not installed in the
    project's test environment, so this derivation is untested against
    it; by its tables it would exceed ``MAX_MULTI_CHAR``.
    """
    if transliterate("\0") != "\0":
        raise TransliterationTableError("transliterate must map NUL to itself")
    one: dict[str, str] = {}
    multi: dict[str, str] = {}
    for ch, image in _images():
        if ch.isascii():
            if image != ch:
                raise TransliterationTableError(
                    f"transliterate maps ASCII {ch!r} to {image!r}"
                )
            continue
        kept = _SLUG_DROP.sub("", image)
        if not kept.isascii():
            raise TransliterationTableError(
                f"transliterate maps {ch!r} to non-ASCII {image!r}"
            )
        if len(kept) == 1:
            one[ch] = kept
        elif kept:
            multi[ch] = kept
    if len(one) > MAX_ONE_TO_ONE or len(multi) > MAX_MULTI_CHAR:
        raise TransliterationTableError(
            f"{len(one)} one-to-one and {len(multi)} multi-char slug images; "
            f"the bounds are {MAX_ONE_TO_ONE} and {MAX_MULTI_CHAR}"
        )
    return one, multi


def _ascii_chars(pred) -> str:
    return "".join(ch for ch in map(chr, range(128)) if pred(ch))


def _java_class(chars: str, negate: bool = False) -> str:
    """Java regex character class of ``chars``: each code point as
    ``\\x{h}``, consecutive ones as a range."""
    runs: list[list[int]] = []
    for cp in sorted(set(map(ord, chars))):
        if runs and cp == runs[-1][1] + 1:
            runs[-1][1] = cp
        else:
            runs.append([cp, cp])
    body = "".join(rf"\x{{{lo:x}}}" + (rf"-\x{{{hi:x}}}" if hi > lo else "") for lo, hi in runs)
    return f"[{'^' if negate else ''}{body}]"


def _sql_str(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# The lambda ``slugify_col`` applies, one step of ``slugify`` per line:
# transliterate (one-to-one images by ``translate``; a string that still
# holds a non-ASCII code point is cut into ASCII runs and single code
# points, and each is looked up in the multi-char map), ``_SLUG_DROP``
# (the ASCII characters it keeps; every non-ASCII code point left is
# dropped), ``strip``, ``lower``, ``_SLUG_SEP``; then, above the budget,
# the truncation as one ``aggregate`` over the words in front/back slot
# order (front index j, then back index n-1-j, as ``slugify``'s
# ``zip_longest``), taking words until the budget breaks.
#
# Each intermediate is bound once, as the variable of a one-element
# ``transform(array(x), y -> ...)[0]``: a higher-order function evaluates
# every expression from outside its lambda again for each element, so a
# truncation that read the slug from outside would rebuild it per word.
_SLUGIFY_SQL = """v -> transform(array(
  regexp_replace(lower(regexp_replace(regexp_replace(
    transform(array(translate(v, {one_from}, {one_to})), t ->
      IF(t RLIKE {non_ascii},
         array_join(transform(regexp_extract_all(t, {pieces}, 0),
                              p -> coalesce({multi}[p], p)), ''),
         t))[0],
    {drop}, ''), {strip}, '')), {sep}, '-')
), s -> IF(length(s) <= {length}, s, transform(array(split(s, '-', -1)), w ->
  aggregate(
    flatten(transform(sequence(0, greatest({front}, size(w) - {front}) - 1), j ->
      filter(array(IF(j < {front}, j, NULL), IF(j < size(w) - {front}, size(w) - 1 - j, NULL)),
             x -> x IS NOT NULL))),
    named_struct('total', 0, 'taken', 0, 'full', false,
                 'front', CAST(array() AS ARRAY<STRING>), 'back', CAST(array() AS ARRAY<STRING>)),
    (a, i) -> IF(a.full OR a.total + length(w[i]) + IF(a.taken = 0, 0, a.taken + 1) > {length},
      named_struct('total', a.total, 'taken', a.taken, 'full', true,
                   'front', a.front, 'back', a.back),
      named_struct('total', a.total + length(w[i]), 'taken', a.taken + 1, 'full', false,
                   'front', IF(i < {front}, concat(a.front, array(w[i])), a.front),
                   'back', IF(i < {front}, a.back, concat(a.back, array(w[i]))))),
    a -> concat(array_join(a.front, '-'), '--', array_join(a.back, '-')))
)[0]))[0]"""


@functools.lru_cache(maxsize=None)
def _slugify_lambda(length: int) -> str:
    one, multi = slug_tables()
    # Python's str.strip and \s sets hold \x0b and \x1c-\x1f, which
    # Java's \s and Spark's trim miss, so both are spelled out
    space = _java_class(_ascii_chars(str.isspace))
    return _SLUGIFY_SQL.format(
        one_from=_sql_str("".join(one)),
        one_to=_sql_str("".join(one.values())),
        non_ascii=_sql_str(r"[^\x{0}-\x{7f}]"),
        pieces=_sql_str(r"[\x{0}-\x{7f}]+|[^\x{0}-\x{7f}]"),
        # one string literal: Spark parses it far faster than a map() of
        # 586 literals; \x01 and \x02 are in no key (all non-ASCII) and
        # in no image (all in the ASCII set _SLUG_DROP keeps)
        multi=f"str_to_map({_sql_str(chr(2).join(k + chr(1) + v for k, v in multi.items()))}, "
        f"{_sql_str(chr(2))}, {_sql_str(chr(1))})",
        drop=_sql_str(_java_class(_ascii_chars(lambda ch: not _SLUG_DROP.match(ch)), negate=True)),
        strip=_sql_str(rf"\A{space}+|{space}+\z"),
        sep=_sql_str(_java_class(_ascii_chars(_SLUG_SEP.match)) + "+"),
        front="CAST(size(w) * 0.6D AS INT)",
        length=int(length),
    )


def slugify_col(c: Column, length: int = 90) -> Column:
    """JVM-side ``slugify``: equal to it on every string, and NULL stays
    NULL. One SQL lambda (``_SLUGIFY_SQL``) over the tables of
    ``slug_tables``, parsed by Spark, so the plan runs no Python worker
    and its construction costs a handful of py4j calls."""
    return F.call_function("transform", F.array(c), F.expr(_slugify_lambda(length)))[0]


# ---------------------------------------------------------------------------
# F3 tagify / F4 get_package_tags
# ---------------------------------------------------------------------------

def tagify(tag: str) -> str:
    """Collapse every non-word run to a single space, then strip."""
    return " ".join(re.split(r"\W+", tag, flags=re.UNICODE)).strip()


def tagify_col(c: Column) -> Column:
    # (?U) → Java \W matches unicode word chars like Python re.UNICODE
    return F.trim(F.regexp_replace(c, r"(?U)\W+", " "))


def get_package_tags(r_zodziai: str | None) -> list[str]:
    """Tokenize the packed keyword column: ';'→',', split, strip, fixcase,
    drop empties, tagify+lower, keep 2..100 chars, preserve order."""
    names: list[str] = []
    if r_zodziai:
        tags = (fixcase(t.strip()) for t in r_zodziai.replace(";", ",").split(","))
        for tag in tags:
            if not tag:
                continue
            name = tagify(tag).lower()
            if 2 <= len(name) <= 100:
                names.append(name)
    return names


def package_tags_col(c: Column) -> Column:
    """Order-preserving higher-order-function pipeline (no Python, no
    explode/shuffle — runs inside project)."""
    strip = lambda x: F.regexp_replace(x, r"^\s+|\s+$", "")  # noqa: E731
    toks = F.split(F.regexp_replace(c, ";", ","), ",")
    named = F.transform(toks, lambda x: F.lower(tagify_col(fixcase_col(strip(x)))))
    kept = F.filter(named, lambda n: (F.length(n) >= 2) & (F.length(n) <= 100))
    return F.when(c.isNull() | (c == ""), F.array().cast("array<string>")).otherwise(kept)


_REJECT_SCHEMA = "array<struct<tag:string,reason:string>>"


def rejected_tags_col(c: Column) -> Column:
    """P8/P9 warn side-channel as data: the reference logs every skipped
    tag (odgovlt.py:88-93); here the skips surface as
    (tag, reason∈{too_short, too_long}) structs so a pipeline can route
    them to a rejects sink instead of a log line. ``tag`` is the
    stripped+fixcased token the reference's warning prints (pre-tagify);
    the length test runs on the normalized name, exactly mirroring
    ``package_tags_col``'s keep-filter."""
    strip = lambda x: F.regexp_replace(x, r"^\s+|\s+$", "")  # noqa: E731
    toks = F.split(F.regexp_replace(c, ";", ","), ",")
    tags = F.filter(
        F.transform(toks, lambda x: fixcase_col(strip(x))), lambda t: t != ""
    )
    measured = F.transform(
        tags,
        lambda t: F.struct(
            t.alias("tag"), F.length(F.lower(tagify_col(t))).alias("_len")
        ),
    )
    rejected = F.filter(measured, lambda s: (s["_len"] < 2) | (s["_len"] > 100))
    out = F.transform(
        rejected,
        lambda s: F.struct(
            s["tag"].alias("tag"),
            F.when(s["_len"] > 100, F.lit("too_long"))
            .otherwise(F.lit("too_short"))
            .alias("reason"),
        ),
    )
    return F.when(c.isNull() | (c == ""), F.array().cast(_REJECT_SCHEMA)).otherwise(out)
