"""Scalar normalizers as native Spark Column expression chains.

Re-expresses the reference's string-normalization library
(/root/reference/pre_processing.py:32-85) with zero Python UDFs:
lower/regexp_replace/split/filter/array_sort/array_join all run inside
whole-stage codegen, so these normalizers cost a projection, not a
Python round-trip, at any scale.

Each normalizer also has a DuckDB SQL fragment builder (``sql_*``) so
the driver oracle (__spark_entry__.oracle_sql) shares one definition.

Semantics notes vs the reference:
  * ``word_tokenize`` is applied AFTER stripping non-[a-z0-9 ] chars,
    so it degenerates to whitespace splitting — we split on ' +' and
    drop empty tokens (SURVEY.md §7 "hard parts" #3).
  * Duplicate tokens are preserved (the reference's list comprehension
    keeps them), hence filter() not array_except().
  * Null in -> null out (the reference guards every apply with
    ``pd.notnull``).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    ADDRESS_STOPWORDS,
    BASE_STOPWORDS,
    COUNTRY_ALIASES,
    NAME_STOPWORDS,
    STATE_LOOKUP,
)
from ..session import built_once, sql_string

# ------------------------------------------------------------------
# token-pipeline helpers
#
# Codegen note (measured, 528k docs, 32 cores): the lambda F.filter
# here is CodegenFallback and keeps the normalize projection OUT of
# whole-stage codegen — and that is the FASTER choice.  The
# codegen-capable alternative (stopword removal as one token-exact
# regexp_replace alternation over ~185 words) makes the projection
# fully codegen but runs 2.4x SLOWER (16.9s vs 7.0s): Java regex
# tries each alternative per position, while the interpreted filter
# does one static InSet hash probe per token.  sort_array /
# array_remove (codegen-capable, same semantics on null-free token
# arrays) are used over their HOF twins where a choice exists.
# ------------------------------------------------------------------


def _tokens(
    c: Column, *, replace_with_space: bool, unicode_letters: bool = False
) -> Column:
    r"""lower -> strip to [a-z0-9 ] -> whitespace-split, no empty tokens.

    ``unicode_letters=True`` keeps letters/digits of ANY script
    (strip class ``[^\p{L}\p{Nd} ]``) — the VERDICT r4 item 6 knob:
    the reference-faithful ASCII strip deletes CJK/Greek/Cyrillic
    text outright, so such records lose all name blocking and scoring
    signal under the default."""
    c = F.lower(c)
    strip = r"[^\p{L}\p{Nd} ]" if unicode_letters else "[^a-z0-9 ]"
    c = F.regexp_replace(c, strip, " " if replace_with_space else "")
    toks = F.split(F.trim(c), " +")
    # split('') yields [''], drop empties
    return F.array_remove(toks, "")


def _remove_stopwords(toks: Column, stopwords: tuple[str, ...]) -> Column:
    # isin over a literal list optimizes to InSet (one static hash set
    # per expression instance) — cheaper than a per-token linear
    # array_contains scan over the ~180-word corpus.  The word list is
    # one JVM Seq built once per gateway: ``isin(*stopwords)`` would
    # cost ~4 py4j round-trips per word on every build, for the same
    # InSet.
    words = built_once(
        ("stopwords", stopwords),
        lambda: SparkContext._jvm.PythonUtils.toSeq(list(stopwords)),
    )
    return F.filter(toks, lambda t: ~Column(t._jc.isin(words)))


def _join_tokens(toks: Column, *, sort: bool) -> Column:
    if sort:
        toks = F.sort_array(toks)
    return F.array_join(toks, " ")


# ------------------------------------------------------------------
# F1-F5: text normalizers (pre_processing.py:48-85)
# ------------------------------------------------------------------


def normalize_name(c: Column, unicode_letters: bool = False) -> Column:
    """pre_processing.py:48-55 — lowercase, strip symbols, drop name
    stopwords (token-exact, duplicates preserved), sort tokens,
    space-join.  ``unicode_letters=True`` keeps non-Latin scripts
    (see ``_tokens``; wired through ``LinkageConfig.unicode_names``)."""
    toks = _remove_stopwords(
        _tokens(
            c, replace_with_space=False, unicode_letters=unicode_letters
        ),
        NAME_STOPWORDS,
    )
    return _join_tokens(toks, sort=True)


def normalize_address(c: Column) -> Column:
    """pre_processing.py:58-65 — as name, address stopwords."""
    toks = _remove_stopwords(_tokens(c, replace_with_space=False), ADDRESS_STOPWORDS)
    return _join_tokens(toks, sort=True)


def normalize_number(c: Column) -> Column:
    """pre_processing.py:68-70 — keep digits only."""
    return F.regexp_replace(c, "[^0-9]", "")


def normalize_email(c: Column) -> Column:
    """pre_processing.py:73-79 — symbols become SPACES (unlike name/
    address which delete them), base stopwords, NO token sort."""
    toks = _remove_stopwords(_tokens(c, replace_with_space=True), BASE_STOPWORDS)
    return _join_tokens(toks, sort=False)


def normalize_website(c: Column) -> Column:
    """normalize_email then drop literal 'www' tokens
    (pre_processing.py:82-85,188-189)."""
    toks = _remove_stopwords(_tokens(c, replace_with_space=True), BASE_STOPWORDS)
    toks = F.array_remove(toks, "www")
    return _join_tokens(toks, sort=False)


# ------------------------------------------------------------------
# F6/F7: canonicalization lookups (pre_processing.py:32-45)
# Implemented as literal-map element_at with keep-original fallback —
# a constant-folded expression; no join, no shuffle, broadcast-free.
# ------------------------------------------------------------------


def _map_lookup(c: Column, mapping: dict[str, str]) -> Column:
    # the literal map is one Column built once per gateway, from one
    # SQL string: one py4j round-trip for the map(lit, lit, ...) tree
    # that F.create_map over F.lit Columns builds with several per
    # literal
    items = tuple(mapping.items())
    m = built_once(
        ("literal_map", items),
        lambda: F.expr(
            "map("
            + ", ".join(sql_string(x) for kv in items for x in kv)
            + ")"
        ),
    )
    # try_element_at: NULL (not ANSI error) on missing key -> fallback
    return F.coalesce(F.try_element_at(m, F.lower(F.trim(c))), c)


def fix_state(c: Column) -> Column:
    """US state code/name -> full lowercase name; miss keeps input
    (pre_processing.py:32-37)."""
    return _map_lookup(c, STATE_LOOKUP)


def fix_country(c: Column) -> Column:
    """Country alias -> lowercase short name; 'un' -> 'usa' special
    case applied first (pre_processing.py:40-45,164-168)."""
    c = F.when(F.lower(c) == "un", F.lit("usa")).otherwise(c)
    return _map_lookup(c, COUNTRY_ALIASES)


NORMALIZERS = {
    "name": normalize_name,
    "address": normalize_address,
    "number": normalize_number,
    "email": normalize_email,
    "website": normalize_website,
    "state_then_address": lambda c: normalize_address(fix_state(c)),
    "country_then_address": lambda c: normalize_address(fix_country(c)),
}


# ------------------------------------------------------------------
# DuckDB SQL fragments (oracle parity — same literals, same semantics)
# ------------------------------------------------------------------


def _sql_list(words: tuple[str, ...]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"


def _sql_tokens(
    expr: str, *, replace_with_space: bool, unicode_letters: bool = False
) -> str:
    repl = "' '" if replace_with_space else "''"
    strip = r"[^\p{L}\p{Nd} ]" if unicode_letters else "[^a-z0-9 ]"
    return (
        f"list_filter(string_split_regex(trim(regexp_replace(lower({expr}), "
        f"'{strip}', {repl}, 'g')), ' +'), t -> t != '')"
    )


def _sql_remove_stopwords(toks: str, stopwords: tuple[str, ...]) -> str:
    return f"list_filter({toks}, t -> NOT list_contains({_sql_list(stopwords)}, t))"


def _sql_join(joined: str, expr: str) -> str:
    # DuckDB's array_to_string([]) is NULL; Spark's array_join([]) is ''.
    # Preserve null-in -> null-out while mapping empty list -> ''.
    return f"coalesce({joined}, CASE WHEN {expr} IS NULL THEN NULL ELSE '' END)"


def sql_normalize_name(expr: str, unicode_letters: bool = False) -> str:
    toks = _sql_remove_stopwords(
        _sql_tokens(
            expr, replace_with_space=False, unicode_letters=unicode_letters
        ),
        NAME_STOPWORDS,
    )
    return _sql_join(f"array_to_string(list_sort({toks}), ' ')", expr)


def sql_normalize_address(expr: str) -> str:
    toks = _sql_remove_stopwords(
        _sql_tokens(expr, replace_with_space=False), ADDRESS_STOPWORDS
    )
    return _sql_join(f"array_to_string(list_sort({toks}), ' ')", expr)


def sql_normalize_number(expr: str) -> str:
    return f"regexp_replace({expr}, '[^0-9]', '', 'g')"


def sql_normalize_email(expr: str) -> str:
    toks = _sql_remove_stopwords(
        _sql_tokens(expr, replace_with_space=True), BASE_STOPWORDS
    )
    return _sql_join(f"array_to_string({toks}, ' ')", expr)


def sql_normalize_website(expr: str) -> str:
    toks = _sql_remove_stopwords(
        _sql_tokens(expr, replace_with_space=True), BASE_STOPWORDS
    )
    return _sql_join(
        f"array_to_string(list_filter({toks}, t -> t != 'www'), ' ')", expr
    )


def _sql_map_lookup(expr: str, mapping: dict[str, str]) -> str:
    keys = _sql_list(tuple(mapping.keys()))
    vals = _sql_list(tuple(mapping.values()))
    return (
        f"coalesce(map_extract(map({keys}, {vals}), "
        f"lower(trim({expr})))[1], {expr})"
    )


def sql_fix_state(expr: str) -> str:
    return _sql_map_lookup(expr, STATE_LOOKUP)


def sql_fix_country(expr: str) -> str:
    pre = f"CASE WHEN lower({expr}) = 'un' THEN 'usa' ELSE {expr} END"
    return _sql_map_lookup(pre, COUNTRY_ALIASES)


SQL_NORMALIZERS = {
    "name": sql_normalize_name,
    "address": sql_normalize_address,
    "number": sql_normalize_number,
    "email": sql_normalize_email,
    "website": sql_normalize_website,
    "state_then_address": lambda e: sql_normalize_address(sql_fix_state(e)),
    "country_then_address": lambda e: sql_normalize_address(sql_fix_country(e)),
}


# ------------------------------------------------------------------
# Soundex DuckDB twin (DuckDB has no soundex builtin)
# ------------------------------------------------------------------

# American Soundex letter classes as Spark implements them
# (org.apache.spark.unsafe.types.UTF8String.soundex): 1-6 consonant
# classes, 0 = vowels + y (separators: reset the last code), 7 = h/w
# (skipped: the last code is preserved, so equal codes across h/w
# still collapse).  Non-letters mid-string act as separators; a
# non-letter FIRST char returns the input unchanged.  All pinned
# against F.soundex in tests/test_normalizers.py.
_SOUNDEX_GROUPS = (
    ("1", "bfpv"), ("2", "cgjkqsxz"), ("3", "dt"), ("4", "l"),
    ("5", "mn"), ("6", "r"), ("0", "aeiouy"), ("7", "hw"),
)


# translate() maps, derived from _SOUNDEX_GROUPS: the head keeps h/w
# as their own class '7' (never collapses with 1-6); in the tail h/w
# are REMOVED first (that IS the skip rule: equal codes across h/w
# become adjacent and collapse), non-letters become '!' -> class '0'
# (same reset-the-run behavior as vowels, exactly Spark's automaton).
_SX_HEAD_IN, _SX_HEAD_OUT = (
    "abcdefghijklmnopqrstuvwxyz", "01230127022455012623017202"
)
_SX_TAIL_IN, _SX_TAIL_OUT = (
    "abcdefgijklmnopqrstuvxyz!", "0123012022455012623012020"
)


def sql_soundex(expr: str) -> str:
    """DuckDB twin of Spark's ``F.soundex``, lambda-free (DuckDB 1.0
    mis-evaluates lambdas nested inside other lambda-bearing
    expressions — values bleed across vector rows), as the classic
    translate/collapse recipe: drop h/w from the tail, code letters,
    collapse runs of equal codes (one regexp per code digit — RE2 has
    no backrefs), drop the head's own leading code, strip the '0'
    separators, pad to 3 digits."""
    s = f"(lower({expr}))"
    tail = f"substr({s}, 2)"
    t1 = f"regexp_replace({tail}, '[^a-z]', '!', 'g')"
    t2 = f"regexp_replace({t1}, '[hw]', '', 'g')"
    t3 = f"translate({t2}, '{_SX_TAIL_IN}', '{_SX_TAIL_OUT}')"
    coded = (
        f"translate(substr({s}, 1, 1), '{_SX_HEAD_IN}', '{_SX_HEAD_OUT}')"
        f" || {t3}"
    )
    for d in "01234567":
        coded = f"regexp_replace({coded}, '{d}{{2,}}', '{d}', 'g')"
    digits = f"replace(substr({coded}, 2), '0', '')"
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN ({expr}) = '' THEN '' "
        f"WHEN NOT regexp_matches(substr(({expr}), 1, 1), '[A-Za-z]') "
        f"THEN ({expr}) "
        f"ELSE upper(substr({s}, 1, 1)) || substr(rpad({digits}, 3, '0'), 1, 3) "
        f"END)"
    )


# ------------------------------------------------------------------
# Refined Soundex (second phonetic encoder — Commons-Codec variant)
# ------------------------------------------------------------------

# Per-letter classes (b,p=1 f,v=2 c,k,s=3 g,j=4 q,x,z=5 d,t=6 l=7
# m,n=8 r=9 vowels+h,w,y=0), applied to EVERY letter including the
# first, adjacent equal codes collapsed, no truncation and no zero
# stripping — finer-grained than American Soundex (9 consonant classes
# vs 6, untruncated), so blocks split tighter on long names.  Unlike
# `F.soundex` there is no Spark builtin: both engines run the SAME
# strip/translate/collapse recipe, which is what makes the key
# hash-checkable.
_RS_IN = "abcdefghijklmnopqrstuvwxyz"
_RS_OUT = "01360240043788015936020505"


def refined_soundex(c: Column) -> Column:
    """Refined Soundex code: first letter + collapsed per-letter codes
    of the whole (letters-only) string; NULL -> NULL, no letters -> ''.
    refined_soundex('testing') = 'T6036084'."""
    s = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    codes = F.translate(F.lower(s), _RS_IN, _RS_OUT)
    # Java regex has backrefs; the DuckDB twin's per-digit chain is
    # equivalent for single-char runs
    collapsed = F.regexp_replace(codes, "(\\d)\\1+", "$1")
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(s == "", F.lit(""))
        .otherwise(F.concat(F.substring(s, 1, 1), collapsed))
    )


def sql_refined_soundex(expr: str) -> str:
    """DuckDB twin of :func:`refined_soundex` (RE2 has no backrefs —
    one collapse regexp per code digit, same result on digit runs)."""
    s = f"upper(regexp_replace(({expr}), '[^A-Za-z]', '', 'g'))"
    coded = f"translate(lower({s}), '{_RS_IN}', '{_RS_OUT}')"
    for d in "0123456789":
        coded = f"regexp_replace({coded}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN {s} = '' THEN '' "
        f"ELSE substr({s}, 1, 1) || {coded} END)"
    )


# ------------------------------------------------------------------
# NYSIIS (New York State Identification and Intelligence System)
# ------------------------------------------------------------------

# The third phonetic encoder of the blocking family (with American and
# Refined Soundex): NYSIIS keeps more vowel structure, so it splits
# differently on exactly the surname-typo families where Soundex
# over-merges ("SMITH"/"SCHMIDT" share a Soundex class but not a
# NYSIIS key).  Implemented as ONE staged regex/translate recipe run
# identically by Spark (Java regex) and DuckDB (RE2) — no pattern
# backreferences, no lookaround (RE2 has neither), captures in the
# REPLACEMENT only (both engines support those) — which is what makes
# the key hash-checkable across engines.
#
# The recipe is the classic NYSIIS rule set applied as ordered global
# passes rather than the textbook per-position loop; the two differ
# only on degenerate inputs (e.g. runs like "XHH"), and THIS staged
# order is the pinned, documented semantics (tests/test_normalizers.py
# pins golden codes and Spark<->DuckDB equality).  Stages:
#   head:  MAC->MCC  KN->NN  K->C  PH->FF  PF->FF  SCH->SSS  (anchored)
#   tail:  EE|IE -> Y      DT|RT|RD|NT|ND -> D                (anchored)
#   body (on s[2:]):  EV->AF, [AEIOU]->A, Q->G, Z->S, M->N,
#                     KN->N, K->C, SCH->SSS, PH->FF,
#                     (non-vowel)H -> that char, AH(non-vowel) -> AA+it,
#                     AW->AA
#   then collapse repeated letters, strip one trailing S, AY$->Y,
#   strip trailing A; empty result falls back to the first letter.
# No 6-char truncation (like our Refined Soundex, untruncated keys
# block tighter on long names; truncate at the call site if needed).

_NYSIIS_HEAD = (
    ("^MAC", "MCC"),
    ("^KN", "NN"),
    ("^K", "C"),
    ("^(PH|PF)", "FF"),
    ("^SCH", "SSS"),
)
_NYSIIS_TAIL = (
    ("(EE|IE)$", "Y"),
    ("(DT|RT|RD|NT|ND)$", "D"),
)
_NYSIIS_BODY = (
    ("EV", "AF"),
    ("[AEIOU]", "A"),
    ("Q", "G"),
    ("Z", "S"),
    ("M", "N"),
    ("KN", "N"),
    ("K", "C"),
    ("SCH", "SSS"),
    ("PH", "FF"),
    ("([^A])H", "$1$1"),
    ("(A)H([^A])", "$1$1$2"),
    ("(A)W", "$1$1"),
)
_NYSIIS_END = (
    ("S$", ""),
    ("AY$", "Y"),
    ("A$", ""),
)


def nysiis(c: Column) -> Column:
    """NYSIIS phonetic code of ``c`` per the staged recipe above:
    NULL -> NULL, no letters -> ''.  nysiis('KNIGHT') = 'NAGT',
    nysiis('PHILLIPS') = 'FALAP'."""
    s = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    h = s
    for pat, rep in _NYSIIS_HEAD:
        h = F.regexp_replace(h, pat, rep)
    for pat, rep in _NYSIIS_TAIL:
        h = F.regexp_replace(h, pat, rep)
    first = F.substring(h, 1, 1)
    rest = F.substring(h, 2, 2147483647)
    for pat, rep in _NYSIIS_BODY:
        rest = F.regexp_replace(rest, pat, rep)
    key = F.regexp_replace(F.concat(first, rest), "(.)\\1+", "$1")
    for pat, rep in _NYSIIS_END:
        key = F.regexp_replace(key, pat, rep)
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(s == "", F.lit(""))
        .otherwise(F.when(key == "", first).otherwise(key))
    )


def sql_nysiis(expr: str) -> str:
    """DuckDB twin of :func:`nysiis` — the SAME staged recipe; RE2 has
    no pattern backrefs, so the repeat-collapse is one regexp per
    letter (equivalent on the all-letters intermediate string)."""

    def _rr(s: str, pat: str, rep: str) -> str:
        rep = rep.replace("$1", "\\1").replace("$2", "\\2")
        # anchored passes must NOT use 'g' (RE2 is fine either way for
        # ^/$ patterns, but keep parity with Java's replaceAll which
        # is global; 'g' is safe for all of these)
        return f"regexp_replace({s}, '{pat}', '{rep}', 'g')"

    s = f"upper(regexp_replace(({expr}), '[^A-Za-z]', '', 'g'))"
    h = s
    for pat, rep in _NYSIIS_HEAD:
        h = _rr(h, pat, rep)
    for pat, rep in _NYSIIS_TAIL:
        h = _rr(h, pat, rep)
    first = f"substr({h}, 1, 1)"
    rest = f"substr({h}, 2)"
    for pat, rep in _NYSIIS_BODY:
        rest = _rr(rest, pat, rep)
    key = f"({first} || {rest})"
    for ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        key = f"regexp_replace({key}, '{ch}{{2,}}', '{ch}', 'g')"
    for pat, rep in _NYSIIS_END:
        key = _rr(key, pat, rep)
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN {s} = '' THEN '' "
        f"WHEN {key} = '' THEN substr({s}, 1, 1) "
        f"ELSE {key} END)"
    )


# ------------------------------------------------------------------
# Given-name canonicalization (nickname / diminutive folding)
# ------------------------------------------------------------------


def canonical_given_name(c: Column) -> Column:
    """Fold a given-name variant to its canonical formal form
    ('bob' -> 'robert'); miss keeps the input.  Classic linkage move:
    Soundex cannot bridge bob<->robert (B100 vs R163), a dictionary
    can — fold FIRST, then encode.  The ~100-entry frozen literal
    (config.NICKNAME_ALIASES) compiles to an expression-level map
    (no join at any scale); a larger tenant dictionary would swap in
    as a broadcast join with the same contract."""
    from ..config import NICKNAME_ALIASES

    return _map_lookup(c, NICKNAME_ALIASES)


def sql_canonical_given_name(expr: str) -> str:
    """DuckDB twin of :func:`canonical_given_name` (same literal map)."""
    from ..config import NICKNAME_ALIASES

    return _sql_map_lookup(expr, NICKNAME_ALIASES)


# ------------------------------------------------------------------
# Accent / diacritic folding (Latin-1 + Latin Extended-A)
# ------------------------------------------------------------------

# One codepoint map run by translate() in BOTH engines, derived ONCE
# at import from NFD decomposition (strip combining marks) over the
# Latin-1 Supplement + Latin Extended-A letters — the European-name
# range.  Both engines consume the SAME Python-computed map, so
# cross-engine parity is by construction.  Letters NFD cannot reach
# (stroked/crossed forms) are added explicitly; multi-char expansions
# (ae/oe/ss/th) cannot go through translate (1:1 codepoints) and use
# a short replace chain, identical in both engines.


def _build_accent_map() -> tuple[str, str]:
    import unicodedata

    src_chars, dst_chars = [], []
    for cp in range(0x00C0, 0x0180):
        ch = chr(cp)
        de = unicodedata.normalize("NFD", ch)
        base = "".join(c for c in de if not unicodedata.combining(c))
        if base != ch and len(base) == 1 and base.isascii() and base.isalpha():
            src_chars.append(ch)
            dst_chars.append(base)
    for ch, base in (
        ("\u00f8", "o"), ("\u00d8", "O"),   # ø Ø
        ("\u0142", "l"), ("\u0141", "L"),   # ł Ł
        ("\u0111", "d"), ("\u0110", "D"),   # đ Đ
        ("\u0127", "h"), ("\u0126", "H"),   # ħ Ħ
        ("\u0167", "t"), ("\u0166", "T"),   # ŧ Ŧ
        ("\u0131", "i"),                      # ı
        ("\u00f0", "d"), ("\u00d0", "D"),   # ð Ð
    ):
        src_chars.append(ch)
        dst_chars.append(base)
    return "".join(src_chars), "".join(dst_chars)


_ACCENT_IN, _ACCENT_OUT = _build_accent_map()
_ACCENT_EXPANSIONS = (
    ("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"),
    ("ß", "ss"), ("þ", "th"), ("Þ", "TH"),
)


def fold_accents(c: Column) -> Column:
    """Fold Latin diacritics to ASCII ('müller' -> 'muller', 'Łódź' ->
    'Lodz', 'Cœur' -> 'Coeur').  Run BEFORE normalize_name when a
    corpus carries accented names: the normalizers strip non-[a-z0-9]
    chars, so an unfolded 'müller' would otherwise collapse to 'mller'
    and land in the wrong soundex/NYSIIS block."""
    for src, dst in _ACCENT_EXPANSIONS:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _ACCENT_IN, _ACCENT_OUT)


def sql_fold_accents(expr: str) -> str:
    """DuckDB twin of :func:`fold_accents` (same map, same order)."""
    out = expr
    for src, dst in _ACCENT_EXPANSIONS:
        out = f"replace({out}, '{src}', '{dst}')"
    return (
        f"translate({out}, '{_ACCENT_IN}', '{_ACCENT_OUT}')"
    )


# ------------------------------------------------------------------
# Contact canonicalization (email aliasing + phone E.164-lite)
# ------------------------------------------------------------------

# Email aliasing rules that defeat exact contact keys in real-world
# ER: provider domain aliases (googlemail == gmail), plus-addressing
# (user+tag@ == user@), and gmail's dot-insensitivity in the local
# part.  The dot strip is an unrolled fixed-pass regex chain (one dot
# removed per pass, same chain in both engines — RE2-safe, no
# lookaround); _EMAIL_DOT_PASSES bounds the dots handled, beyond
# which leftover dots stay (documented, deterministic).
_EMAIL_DOT_PASSES = 12
_DOT_INSENSITIVE_DOMAINS = ("gmail.com",)


def canonical_email(c: Column) -> Column:
    """Canonical email for exact-key matching: lower/trim, fold
    googlemail.com -> gmail.com, strip one +tag from the local part
    (any domain), strip local-part dots for dot-insensitive providers.
    Non-email strings (no '@') just lower/trim."""
    e = F.lower(F.trim(c))
    e = F.regexp_replace(e, "@googlemail\\.com$", "@gmail.com")
    e = F.regexp_replace(e, "\\+[^@]*@", "@")
    for dom in _DOT_INSENSITIVE_DOMAINS:
        d = dom.replace(".", "\\.")
        for _ in range(_EMAIL_DOT_PASSES):
            e = F.regexp_replace(
                e, f"^([^@]*)\\.([^@]*@{d})$", "$1$2"
            )
    return e


def sql_canonical_email(expr: str) -> str:
    """DuckDB twin of :func:`canonical_email` (same pass chain)."""
    e = f"lower(trim({expr}))"
    # the anchored ($) passes can match at most once, but the
    # plus-strip is unanchored and Spark's regexp_replace is ALWAYS
    # global (Java replaceAll) — DuckDB needs the explicit 'g' or a
    # multi-@ string diverges between engines
    e = f"regexp_replace({e}, '@googlemail\\.com$', '@gmail.com')"
    e = f"regexp_replace({e}, '\\+[^@]*@', '@', 'g')"
    for dom in _DOT_INSENSITIVE_DOMAINS:
        d = dom.replace(".", "\\.")
        for _ in range(_EMAIL_DOT_PASSES):
            e = (
                f"regexp_replace({e}, "
                f"'^([^@]*)\\.([^@]*@{d})$', '\\1\\2')"
            )
    return e


def canonical_phone(
    c: Column, default_cc: str = "1", nsn_len: int = 10
) -> Column:
    """E.164-lite phone canonicalization: digits only, strip an
    international '00' prefix, prepend ``default_cc`` to bare
    ``nsn_len``-digit national numbers, '+' prefix.  Numbers that fit
    neither shape keep their digits ('+'-prefixed) — deterministic,
    never guessed.  Empty/no digits -> ''."""
    d = F.regexp_replace(c, "[^0-9]", "")
    d = F.regexp_replace(d, "^00", "")
    cc = default_cc
    full = (
        F.when(F.length(d) == nsn_len, F.concat(F.lit(cc), d))
        .otherwise(d)
    )
    return F.when(F.length(d) == 0, F.lit("")).otherwise(
        F.concat(F.lit("+"), full)
    )


def sql_canonical_phone(
    expr: str, default_cc: str = "1", nsn_len: int = 10
) -> str:
    """DuckDB twin of :func:`canonical_phone`."""
    d = f"regexp_replace(regexp_replace({expr}, '[^0-9]', '', 'g'), '^00', '')"
    return (
        f"(CASE WHEN length({d}) = 0 THEN '' "
        f"WHEN length({d}) = {int(nsn_len)} "
        f"THEN '+' || '{default_cc}' || {d} "
        f"ELSE '+' || {d} END)"
    )
