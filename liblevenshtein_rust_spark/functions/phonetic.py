"""Phonetic / orthographic normalization — the recall booster.

The reference couples a rule-rewriting phonetic engine to fuzzy search
(``/root/reference/src/phonetic/``: ``apply_rules_seq`` at
``application.rs:313``, rule sets in ``rules.rs``; used by
``transducer/phonetic.rs:421`` to match sound-alike terms).  Its rules are
Coq-verified for termination/boundedness; ours get the cheaper guarantee:
a *finite ordered chain* of non-expanding regexp rewrites, each applied
once globally, is trivially terminating and at most length-preserving.

We define an original, deliberately simple English orthography→pseudo-phone
rule chain (NOT a port of the reference's Zompist rules — same operator
shape, different data).  Each rule is a (pattern, replacement) pair applied
in order via `regexp_replace` — pure codegen, and the DuckDB oracle mirrors
the chain verbatim.

At scale: normalization is a per-row projection fused into the scan; the
normalized column becomes the blocking/matching key, exactly like the
reference's phonetic dictionary wrapper.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ordered rewrite chain; RE2-compatible (no lookahead/backrefs) so the
# DuckDB oracle can run the identical patterns
PHONETIC_RULES: list[tuple[str, str]] = [
    (r"ough", "o"),     # though/thorough family
    (r"augh", "af"),    # laugh
    (r"tion", "shun"),  # -tion  (equal length)
    (r"ph", "f"),       # phone → fone
    (r"wr", "r"),       # write → rite
    (r"kn", "n"),       # knight → night-ish
    (r"wh", "w"),       # what → wat
    (r"qu", "kw"),      # quick → kwick
    (r"ck", "k"),       # black → blak
    (r"x", "ks"),       # box → boks (expands by 1 — bounded: applied once)
    (r"c([eiy])", "s$1"),  # cell → sell (group ref, not lookahead: RE2-safe)
    (r"c", "k"),        # cat → kat
    (r"y", "i"),        # phonetic vowel collapse
] + [
    (f"{c}{{2,}}", c) for c in "abcdefghijklmnopqrstuvwxyz"  # squeeze runs
]


# ---------------------------------------------------------------------------
# Named rule sets — the reference ships THREE curated sets behind one engine
# (orthography / phonetic / combined, ``phonetic/rules.rs:246-286``); we
# mirror the *selectable rule-set* surface with original data:
#
#   default   — the orthography→pseudo-phone chain above (recall booster);
#   soundex_like — a Soundex-FAMILY consonant-class code (the classic 1918
#       public-domain algorithm shape: first letter + digit classes +
#       squeeze + drop vowels, WITHOUT exact Soundex's h/w-separator nuance
#       — documented variant, deterministic, oracle-replayable);
#   skeleton  — default chain, then drop non-leading vowels and re-squeeze
#       (a consonant-skeleton code for aggressive sound-alike blocking).
#
# Every set is a pure regexp_replace/translate chain: codegen on Spark,
# byte-identical replay in DuckDB.

_SOUNDEX_CLASSES = "01230120022455012623010202"  # a..z → digit class


def _soundex_like(col: Column) -> Column:
    t = F.regexp_replace(F.lower(col), r"[^a-z]", "")
    first = F.substring(t, 1, 1)
    rest = F.translate(F.substring(t, 2, 1 << 20),
                       "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_CLASSES)
    for d in "123456":
        rest = F.regexp_replace(rest, f"{d}{{2,}}", d)
    rest = F.regexp_replace(rest, "0", "")
    return F.when(t == "", F.lit("")).otherwise(
        F.rpad(F.concat(first, F.substring(rest, 1, 3)), 4, "0")
    )


def _soundex_like_sql(expr: str) -> str:
    t = f"regexp_replace(lower({expr}), '[^a-z]', '', 'g')"
    rest = (
        f"translate(substr({t}, 2), 'abcdefghijklmnopqrstuvwxyz', "
        f"'{_SOUNDEX_CLASSES}')"
    )
    for d in "123456":
        rest = f"regexp_replace({rest}, '{d}{{2,}}', '{d}', 'g')"
    rest = f"regexp_replace({rest}, '0', '', 'g')"
    return (
        f"CASE WHEN {t} = '' THEN '' ELSE "
        f"rpad(substr({t}, 1, 1) || substr({rest}, 1, 3), 4, '0') END"
    )


def _chain(col: Column, rules) -> Column:
    out = F.lower(col)
    for pat, rep in rules:
        out = F.regexp_replace(out, pat, rep)
    return out


def _chain_sql(expr: str, rules) -> str:
    out = f"lower({expr})"
    for pat, rep in rules:
        sql_rep = rep.replace("$1", "\\1")
        out = f"regexp_replace({out}, '{pat}', '{sql_rep}', 'g')"
    return out


_SQUEEZE = [(f"{c}{{2,}}", c) for c in "abcdefghijklmnopqrstuvwxyz"]


def _skeleton(col: Column) -> Column:
    n = _chain(col, PHONETIC_RULES)
    out = F.concat(
        F.substring(n, 1, 1),
        F.regexp_replace(F.substring(n, 2, 1 << 20), "[aeiou]", ""),
    )
    for pat, rep in _SQUEEZE:
        out = F.regexp_replace(out, pat, rep)
    return out


def _skeleton_sql(expr: str) -> str:
    n = _chain_sql(expr, PHONETIC_RULES)
    out = f"substr({n}, 1, 1) || regexp_replace(substr({n}, 2), '[aeiou]', '', 'g')"
    for pat, rep in _SQUEEZE:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


PHONETIC_RULESETS = ("default", "soundex_like", "skeleton")


def phonetic_normalize(col: Column, ruleset: str = "default") -> Column:
    """Apply the selected rule set to lowercased input — `apply_rules_seq`'s
    fuel-bounded iteration becomes a fixed-length regexp_replace chain; the
    ``ruleset`` selector mirrors the reference's three curated sets."""
    if ruleset == "default":
        return _chain(col, PHONETIC_RULES)
    if ruleset == "soundex_like":
        return _soundex_like(col)
    if ruleset == "skeleton":
        return _skeleton(col)
    raise ValueError(f"unknown ruleset {ruleset!r}; one of {PHONETIC_RULESETS}")


def phonetic_rules_sql(expr: str, ruleset: str = "default") -> str:
    """The identical chain as nested DuckDB expressions (oracle)."""
    if ruleset == "default":
        return _chain_sql(expr, PHONETIC_RULES)
    if ruleset == "soundex_like":
        return _soundex_like_sql(expr)
    if ruleset == "skeleton":
        return _skeleton_sql(expr)
    raise ValueError(f"unknown ruleset {ruleset!r}; one of {PHONETIC_RULESETS}")

