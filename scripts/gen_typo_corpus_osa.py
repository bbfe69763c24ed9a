"""Generate the committed SWAP-PLANTED typo corpus
`data/corpora/typo_corpus_osa.dat` (VERDICT r4 task 7).

The standard corpus (`gen_typo_corpus.py`) gates the Standard-variant
blocked path at d=1..3; the d=3 banded keys ALSO claim OSA exactness
(wider band: 3 transpositions can kill up to 9 2-grams) but round 4 had
no oracle row recalling a transposition-planted corpus through the
blocked OSA path at d=3.  This file closes that: every misspelling
contains at least one surviving adjacent swap, verified at generation
time to sit at EXACT target distance d under

  1. the engine's OSA semantics (`kernel.distances.transposition_distance`
     — the Schulz-Mihov transposition variant, `transducer/mod.rs`
     semantics), AND
  2. UNRESTRICTED Damerau-Levenshtein (Lowrance-Wagner DP below) — which
     is what DuckDB's `damerau_levenshtein()` computes.  OSA and
     unrestricted Damerau diverge only when a later edit touches a
     transposed pair; pairs where they disagree are RETRIED so the DuckDB
     oracle can recompute the distance bands independently and still be
     value-exact against the OSA engine.  (They agree on the vast
     majority of random swap-bearing typos; the retry loop discards the
     divergent tail.)
  3. Standard distance STRICTLY GREATER than d — proof the swap survived:
     a broken path that silently scored Standard instead of OSA would
     place every pair at distance > its band and recall would collapse,
     so the gate discriminates the variants, not just the blocking.

Output is Mitton format ($correct header, then `misspelling [freq]`
lines) — the same `sources/corpus.py` parser and
`blocked_misspelling_recall` harness as the standard corpus, run with
variant="transposition".

Run: python scripts/gen_typo_corpus_osa.py   (idempotent, fixed seed)
"""

from __future__ import annotations

import random
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from liblevenshtein_rust_spark.kernel.distances import (
    standard_distance,
    transposition_distance,
)
from liblevenshtein_rust_spark.sources.fixtures import ALPHABET

SEED = 0x05A5
WORDS = Path("/root/reference/data/english_words.txt")
OUT = Path(__file__).resolve().parent.parent / "data/corpora/typo_corpus_osa.dat"

# short words over-sampled: the band where the depth-3 deletion scheme
# (vs the positional-2-gram long-string scheme) carries the OSA proof
STRATA = [(3, 6, 350), (7, 10, 350), (11, 99, 200)]
DIST_CHOICES = [1, 1, 2, 2, 3]


def damerau_unrestricted(a: str, b: str) -> int:
    """Lowrance-Wagner unrestricted Damerau-Levenshtein — the semantics of
    DuckDB's damerau_levenshtein(), used ONLY to verify that the committed
    pair's distance is oracle-recomputable (never by the engine)."""
    da: dict[str, int] = {}
    maxdist = len(a) + len(b)
    d = [[0] * (len(b) + 2) for _ in range(len(a) + 2)]
    d[0][0] = maxdist
    for i in range(len(a) + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(len(b) + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, len(a) + 1):
        db = 0
        for j in range(1, len(b) + 1):
            k = da.get(b[j - 1], 0)
            l_ = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1),  # transpose
            )
        da[a[i - 1]] = i
    return d[len(a) + 1][len(b) + 1]


def swap_typo(word: str, n_edits: int, rng: random.Random) -> str:
    """n_edits random edits, at least one an adjacent transposition."""
    w = list(word)
    swap_at = rng.randrange(n_edits)
    for e in range(n_edits):
        ops = ["insert"]
        if len(w) >= 1:
            ops += ["delete", "substitute"]
        if len(w) >= 2:
            ops.append("transpose")
        op = "transpose" if (e == swap_at and len(w) >= 2) else rng.choice(ops)
        if op == "delete":
            w.pop(rng.randrange(len(w)))
        elif op == "insert":
            w.insert(rng.randrange(len(w) + 1), rng.choice(ALPHABET))
        elif op == "substitute":
            i = rng.randrange(len(w))
            w[i] = rng.choice([c for c in ALPHABET if c != w[i]])
        else:
            i = rng.randrange(len(w) - 1)
            w[i], w[i + 1] = w[i + 1], w[i]
    return "".join(w)


def typo_at_exact_osa(word: str, d: int, rng: random.Random) -> str | None:
    """A swap-bearing misspelling at EXACT OSA distance d that is ALSO at
    unrestricted-Damerau distance d (oracle-recomputable) and at Standard
    distance > d (swap survived — the variant-discriminating property)."""
    for _ in range(80):
        t = swap_typo(word, d, rng)
        if (
            t != word
            and transposition_distance(word, t) == d
            and damerau_unrestricted(word, t) == d
            and standard_distance(word, t) > d
        ):
            return t
    return None


def main() -> None:
    rng = random.Random(SEED)
    vocab = [w for w in WORDS.read_text().split() if re.fullmatch(r"[a-z]+", w)]
    vocab_set = set(vocab)
    picked: list[str] = []
    for lo, hi, n in STRATA:
        band = [w for w in vocab if lo <= len(w) <= hi]
        picked += rng.sample(band, n)
    picked = sorted(set(picked))

    lines: list[str] = []
    n_pairs = 0
    dist_hist: Counter[int] = Counter()
    std_gap: Counter[int] = Counter()
    for w in picked:
        seen: set[str] = set()
        entries: list[tuple[str, int]] = []
        for _ in range(rng.randint(2, 3)):
            d = rng.choice(DIST_CHOICES)
            if d >= len(w):
                d = 1
            t = typo_at_exact_osa(w, d, rng)
            if t is None or t in seen or t in vocab_set:
                continue
            seen.add(t)
            entries.append((t, rng.randint(1, 5)))
            dist_hist[d] += 1
            std_gap[standard_distance(w, t) - d] += 1
        if not entries:
            continue
        lines.append(f"${w}")
        for t, freq in entries:
            lines.append(t if freq == 1 else f"{t} {freq}")
        n_pairs += len(entries)

    OUT.write_text("\n".join(lines) + "\n")
    print(
        f"wrote {OUT}: {len(picked)} words, {n_pairs} pairs, "
        f"OSA dist hist {dict(sorted(dist_hist.items()))}, "
        f"standard-minus-OSA gap hist {dict(sorted(std_gap.items()))}"
    )


if __name__ == "__main__":
    main()
