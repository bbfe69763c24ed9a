"""Text analysis operators — language-ID, quality scoring, token counting,
document fingerprinting.  All pure `pyspark.sql.functions` (codegen'd,
SQL-mirrorable for the DuckDB oracle).

These are the corpus-preparation ops a 100 TB training-data pipeline runs
before dedup/ER: one narrow projection pass over the scan, no shuffle at
all — Catalyst fuses every column into a single WholeStageCodegen over the
parquet read with full column pruning.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def whitespace_token_count(col):
    """Tokens by whitespace split."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col),
        whitespace_token_count(F.col(text_col)).cast("int").alias("ws_tokens"),
        F.length(text_col).cast("int").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = (
    "the of and a to in is it that for on with as at by an be this from or "
    "are was but not you all we he she they i"
).split()


def _quality_cols(t, min_tokens: int = 5, max_tokens: int = 100_000):
    """The one definition of the C4/Gopher quality features of text column
    ``t``.  Returns ``(feats, bands)``: ``feats`` holds n_tokens,
    alpha_ratio, mean_word_len, stop_hits and the composite score in
    [0, 1]; ``bands`` holds the four pass conditions in the gate's rule
    order (length, word_len, alpha, stopword), each worth 0.25 of the
    score."""
    n_chars = F.length(t)
    toks = F.split(F.trim(t), r"\s+")
    n_tokens = whitespace_token_count(t)
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.transform(toks, F.lower), sw_arr))
    bands = {
        "length": (n_tokens >= min_tokens) & (n_tokens <= max_tokens),
        "word_len": (mean_word_len >= 2) & (mean_word_len <= 12),
        "alpha": alpha_ratio >= 0.6,
        "stopword": stop_hits >= 1,
    }
    score = reduce(add, [F.when(ok, 0.25).otherwise(0.0) for ok in bands.values()])
    feats = {
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_ratio,
        "mean_word_len": mean_word_len,
        "stop_hits": stop_hits,
        "score": score,
    }
    return feats, bands


def quality_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features + a composite score in [0, 1].

    Features follow the Gopher/C4-style filters: length band, mean word
    length band, alpha ratio, stopword hit — each a cheap codegen
    expression.
    """
    q, _ = _quality_cols(F.col(text_col))
    return docs.select(
        F.col(id_col),
        q["n_tokens"].cast("int").alias("n_tokens"),
        F.round(q["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        q["stop_hits"].cast("int").alias("stopword_hits"),
        F.round(q["score"], 2).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# language ID (function-word profile heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": "the and of to is in it that was for".split(),
    "de": "der die das und ist nicht ein mit von zu".split(),
    "fr": "le la les et est dans que pour une des".split(),
    "es": "el la los y es en que para una del".split(),
}


def _lang_pick(t):
    """The one definition of the language pick of text column ``t``:
    struct(pick, score) — the argmax of function-word hit counts, 'und'
    when no marker hits."""
    from .dedup import let_bound

    toks = F.transform(F.split(F.trim(t), r"\s+"), F.lower)

    def build(tk):
        # tk is let-bound: the split/lower chain runs once per row, not once
        # per language filter
        cols = []
        for lang, markers in LANG_MARKERS.items():
            arr = F.array(*[F.lit(m) for m in markers])
            hits = F.size(F.filter(tk, lambda x: F.array_contains(arr, x)))
            cols.append((lang, hits))
        best_score = cols[0][1]
        for _, h in cols[1:]:
            best_score = F.greatest(best_score, h)
        # deterministic tie-break: first language (in declared order) at max
        pick = F.lit("und")
        for lang, h in reversed(cols):
            pick = F.when(h == best_score, F.lit(lang)).otherwise(pick)
        pick = F.when(best_score == 0, F.lit("und")).otherwise(pick)
        return F.struct(pick.alias("pick"), best_score.cast("int").alias("score"))

    return let_bound(toks, build)


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Argmax of function-word hit counts; 'und' (undetermined) when no
    marker hits.  A real system uses char-n-gram profiles; the operator
    shape (per-row projection, broadcast-free) is identical.
    """
    out = _lang_pick(F.col(text_col))
    return docs.select(
        F.col(id_col),
        out["pick"].alias("lang_pred"),
        out["score"].alias("marker_hits"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (min-k winnowing-style sketch)
# ---------------------------------------------------------------------------


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4, q: int = 8) -> DataFrame:
    """(doc_id, fingerprint): the k lexicographically-smallest md5s of the
    character q-grams, concatenated — a min-k sketch (winnowing family,
    Schleimer et al. MOSS): shared fingerprints ⇒ shared substrings.

    Pure columnar: substring transform + sort + slice, no explode.
    """
    from .dedup import let_bound

    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")

    def build(tt):
        # tt is let-bound: without it the regexp_replace re-runs once per
        # q-gram inside the transform lambda — quadratic in document length
        n = F.length(tt)
        idx = F.sequence(F.lit(1), F.greatest(n - (q - 1), F.lit(1)))
        grams = F.when(n < q, F.array(tt)).otherwise(
            F.transform(idx, lambda i: tt.substr(i, F.lit(q)))
        )
        hashes = F.array_sort(F.array_distinct(F.transform(grams, F.md5)))
        return F.concat_ws("", F.slice(hashes, 1, k))

    return docs.select(F.col(id_col), let_bound(t, build).alias("fingerprint"))


# ---------------------------------------------------------------------------
# PII redaction (emails, phone numbers, IPv4 addresses)
# ---------------------------------------------------------------------------

# Applied IN ORDER, each pattern counted on the text AFTER the previous
# replacements (so e.g. a dotted phone number can never double-count as an
# IPv4).  Patterns deliberately use only the regex subset shared by Java
# (Spark) and RE2 (DuckDB): classes, bounded repeats, \b, \d — no
# lookaround, no backrefs — so the oracle replays them verbatim.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
)


def _pii_cols(t):
    """The one definition of the PII pass over text column ``t``: returns
    ``(counts, clean)`` — the per-pattern hit counts in PII_PATTERNS order,
    keyed by name, each counted after the earlier replacements, and the
    fully redacted text."""
    counts = {}
    for name, pat, tag in PII_PATTERNS:
        counts[name] = F.regexp_count(t, F.lit(pat))
        t = F.regexp_replace(t, pat, tag)
    return counts, t


def redact_pii(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub PII spans from text before training — the privacy pass every
    production corpus pipeline runs (C4 and The Pile both ship redaction
    variants).  Output: (doc_id, n_email, n_phone, n_ipv4, clean_text).

    Scale: like the other text ops this is one narrow codegen projection
    fused into the scan — zero shuffle, composes with quality/repetition
    filters in the same pass.  Counts are emitted so downstream policy can
    drop PII-dense documents instead of just masking them.
    """
    counts, clean = _pii_cols(F.col(text_col))
    return docs.select(
        F.col(id_col),
        *[c.cast("int").alias(f"n_{name}") for name, c in counts.items()],
        clean.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# intra-document repetition (Gopher-style duplicate n-gram fraction)
# ---------------------------------------------------------------------------


def _dup_ngrams(t, n: int):
    """The one definition of the duplicate word-``n``-gram fraction of text
    column ``t``: struct(n_grams, n_distinct, dup_frac) over normalized
    text, dup_frac = 1 - n_distinct/n_grams (0.0 with fewer than ``n``
    tokens)."""
    from .dedup import let_bound, normalize_text

    toks = F.split(normalize_text(t), " ")

    def build(tk):
        cnt = F.size(tk)
        idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1)))
        grams = F.when(cnt < n, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
        )
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        dup = F.when(total > 0, F.round(1.0 - distinct / total, 6)).otherwise(
            F.lit(0.0)
        )
        return F.struct(
            total.cast("int").alias("n_grams"),
            distinct.cast("int").alias("n_distinct"),
            dup.alias("dup_frac"),
        )

    return let_bound(toks, build)


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_dup_frac: float = 0.2,
) -> DataFrame:
    """Per-document repetition metrics — the Gopher-rules quality filter
    (Rae et al. 2021 §A1.1: drop documents whose duplicate n-gram fraction
    is high; boilerplate and generator loops repeat, prose doesn't).

    Output: (doc_id, n_grams, n_distinct, dup_frac, keep 0/1) where
    dup_frac = 1 - n_distinct/n_grams over word ``n``-grams of normalized
    text (0.0 when the doc has fewer than ``n`` tokens).

    Scale: one columnar projection per row (token split + transform +
    array_distinct), whole-stage codegen, zero shuffle — composes with
    `quality_features` in the same scan pass.
    """
    return (
        docs.select(F.col(id_col), _dup_ngrams(F.col(text_col), n).alias("_s"))
        .select(
            id_col,
            F.col("_s.n_grams").alias("n_grams"),
            F.col("_s.n_distinct").alias("n_distinct"),
            F.col("_s.dup_frac").alias("dup_frac"),
            (F.col("_s.dup_frac") <= max_dup_frac).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# training-window chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size overlapping token windows — the
    pretraining-data chunking step (context-window packing happens
    downstream).  Output: (doc_id, chunk_id, n_tokens, chunk_text), one row
    per window; windows start at 0, stride, 2*stride, ... while the start
    is inside the token sequence (the final window may be short); empty
    documents produce no chunks.

    Pure codegen: split → ``sequence`` of starts → ``transform`` +
    ``slice`` + ``array_join`` → ``posexplode``.  No shuffle, no Python —
    at 100 TB this is a single projection pass fused into the scan, and the
    output inherits the input's partitioning (chunks of a doc stay in the
    doc's partition)."""
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    starts = F.when(F.size(toks) == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.least(F.size(toks) - s, F.lit(chunk_tokens)).alias("n_tokens"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("chunk_text"),
        ),
    )
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        id_col,
        "chunk_id",
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


def tfidf_keywords(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top_k`` keywords per document by smoothed TF-IDF:
    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` (scikit-style smoothing;
    every quantity integral except the final log).  Output:
    (doc_id, token, tf, df, score, rank), rank by (score DESC, token ASC).

    Plan: one explode + (doc, token) count [shuffle 1] → token df by
    re-aggregating the (doc, token) table [shuffle 2, vocab-sized output]
    → df joined back on token [shuffle 3 — vocab-sized side, Heaps-law
    small but NOT assumed broadcastable at 10^12 docs] → per-doc window
    rank [shuffle 4 on doc_id].  N (corpus size) rides a scalar cross-join
    of a 1-row aggregate, never a driver collect."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.length(F.trim(F.col(text_col))) == 0,
                F.array().cast("array<string>"),
            ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("_n"))
    scored = (
        tf.join(df, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((F.col("_n") + 1).cast("double") / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(id_col, "token", "tf", "df", "score", "rank")
    )


def unigram_perplexity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy under the corpus's OWN unigram language
    model — the LM quality filter of CCNet (Wenzek et al. 2020) with the
    corpus itself as the model (self-perplexity): documents whose token
    distribution diverges from the corpus (gibberish, boilerplate, wrong
    language) score high and get filtered or bucketed downstream.

    Self-training means every token has count >= 1, so no smoothing term is
    needed and the score is exactly replayable in SQL:

        cross_entropy(d) = ln(N) - avg_{t in d} ln(c_t)
        perplexity(d)    = exp(cross_entropy)

    with c_t = corpus count of token t and N = total corpus tokens.

    Output: (doc_id, n_tokens, cross_entropy, perplexity), both scores
    rounded to 6 decimals (summation order across partitions differs from
    the oracle's at ~1e-15 relative; rounding removes the noise).

    Scale (10^12 docs):
    - the model is ONE groupBy over exploded tokens (map-side combine) —
      vocabulary grows ~sqrt(corpus) (Heaps), so the count table is
      orders smaller than the corpus and AQE broadcasts it into the
      scoring join (no forced hint: a pathological vocabulary falls back
      to a shuffled join, which is still linear);
    - the total-N side is a 1-row aggregate cross-joined in (broadcast);
    - scoring is one join + one per-doc aggregate — token rows carry
      (id, 8-byte ln) through the final exchange, never text.
    """
    from liblevenshtein_rust_spark.operators.dedup import normalize_text

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("_n"))
    per_doc = (
        toks.join(counts, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.avg(F.log("c")).alias("_avg_ln_c"),
        )
        .join(F.broadcast(total))
    )
    ce = F.log("_n") - F.col("_avg_ln_c")
    return per_doc.select(
        id_col,
        "n_tokens",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


def bigram_perplexity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy under the corpus's OWN bigram model —
    the order-2 companion of :func:`unigram_perplexity` (CCNet buckets on
    an order-5 model; unigram + bigram bracket the family with scores that
    stay exactly SQL-replayable).

    Self-training keeps it closed-form, no smoothing:

        cross_entropy(d) = avg_{(u,v) in d} [ ln c_prefix(u) − ln c(u,v) ]

    with c(u,v) = corpus bigram count and c_prefix(u) = Σ_v c(u,v) (u's
    count as a bigram prefix).  Every bigram of d appears in the corpus
    (it came from there), so c ≥ 1 everywhere.  Docs with < 2 tokens have
    no bigrams and are not emitted (same contract as the unigram op for
    empty docs).

    Output: (doc_id, n_bigrams, cross_entropy, perplexity), rounded to 6
    (cross-partition summation-order noise, as in unigram_perplexity).

    Scale: two count aggregates (bigram model + its prefix marginal — the
    marginal reuses the bigram table, not the corpus), one scoring join,
    one per-doc aggregate; exchange rows after tokenization carry
    (id, 8-byte double) only.  The bigram vocabulary grows faster than
    Heaps (~N^0.8 empirically) — no broadcast hint, AQE decides.
    """
    from liblevenshtein_rust_spark.operators.dedup import let_bound, normalize_text

    tk = F.split(normalize_text(F.col(text_col)), " ")

    def build(t):
        cnt = F.size(t)
        idx = F.sequence(F.lit(1), F.greatest(cnt - 1, F.lit(1)))
        return F.when(cnt < 2, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, 2)))
        )

    grams = docs.select(
        F.col(id_col), F.explode(let_bound(tk, build)).alias("g")
    )
    g_counts = grams.groupBy("g").agg(F.count("*").alias("c_bg"))
    p_counts = g_counts.groupBy(
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("u")
    ).agg(F.sum("c_bg").alias("c_u"))
    scored = (
        grams.join(g_counts, "g")
        .withColumn("u", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .join(p_counts, "u")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.avg(F.log("c_u") - F.log("c_bg")).alias("_ce"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(F.col("_ce"), 6).alias("cross_entropy"),
        F.round(F.exp("_ce"), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# composite curation decision (the one-pass keep/drop gate)
# ---------------------------------------------------------------------------


def curate_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    allowed_langs: tuple = ("en",),
    max_dup_frac: float = 0.2,
    max_pii: int = 5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    full_rows: bool = False,
) -> DataFrame:
    """The curation GATE: every per-document filter signal — C4/Gopher
    quality band, language allowlist, duplicate-n-gram fraction, PII
    density — evaluated in ONE codegen projection with an auditable
    decision per document.

    Output: (doc_id, keep boolean, reasons string, quality_score,
    lang_pred, dup_frac, pii_hits).  ``reasons`` is the comma-joined list
    of failed rules in fixed rule order ('' when kept) — production
    pipelines keep the reason ledger so filter changes can be diffed
    corpus-wide without re-reading text.

    The gate composes the private column functions of its signal
    operators, so each signal equals that operator's output on the same
    text: quality_score is `quality_features`' (at the gate's token band),
    lang_pred is `lang_id`'s, dup_frac is `repetition_stats(n=2)`'s and
    pii_hits is the sum of `redact_pii`'s three ordered counts.  The gate
    itself holds only the rule list, the reason ledger and the projection.

    Scale: this is the operator that touches ALL 100 TB, so its shape is
    the strictest in the repo — a single narrow projection fused into the
    scan (zero shuffle, zero Python, zero joins; the signal columns are
    each projection-only, so the composite is too).  Filters that need
    corpus-level state (near-dup clusters, contamination) run as separate
    blocked joins and AND their verdicts downstream; this gate
    deliberately contains only the row-local rules.
    """
    t = F.col(text_col)
    q, bands = _quality_cols(t, min_tokens, max_tokens)
    lang_pred = _lang_pick(t)["pick"]
    dup_frac = _dup_ngrams(t, 2)["dup_frac"]
    pii_hits = reduce(add, _pii_cols(t)[0].values())

    lang_arr = F.array(*[F.lit(x) for x in allowed_langs])
    # fixed rule order; concat_ws skips NULLs, so `reasons` is the ordered
    # comma-joined failure list and '' means every rule passed
    rules = [(name, ~ok) for name, ok in bands.items()] + [
        ("lang", ~F.array_contains(lang_arr, lang_pred)),
        ("repetition", dup_frac > max_dup_frac),
        ("pii", pii_hits > max_pii),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    # full_rows appends the verdict to the input row instead of projecting
    # it out — the STREAMING form (a stream can't re-join its own verdict
    # table, and since every rule is row-local the gate stays a stateless
    # projection either way)
    lead_cols = [F.col("*")] if full_rows else [F.col(id_col)]
    return docs.select(
        *lead_cols,
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
        F.round(q["score"], 2).alias("quality_score"),
        lang_pred.alias("lang_pred"),
        dup_frac.alias("dup_frac"),
        pii_hits.cast("int").alias("pii_hits"),
    )


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    **gate_kwargs,
) -> DataFrame:
    """Corpus report card: per-``group_col`` audit aggregates of the
    curation gate's signals — the summary a pipeline run emits so corpus
    composition and filter impact can be tracked release-over-release
    without re-reading text.

    Output per group: (group, n_docs, n_tokens, n_kept, avg_quality,
    n_langs).  ``avg_quality`` is exact across engines: every
    quality_score is a multiple of 0.25 (exactly representable), so the
    double sum is order-independent.

    Scale: the gate projection fused into the scan + ONE groupBy on the
    (low-cardinality) group key — the same two-exchange shape as any
    partial-aggregated rollup; no join, no second scan.
    """
    v = curate_documents(
        docs, text_col=text_col, id_col=id_col, full_rows=True, **gate_kwargs
    )
    return v.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs"),
        F.sum(whitespace_token_count(F.col(text_col)).cast("long")).alias("n_tokens"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.countDistinct("lang_pred").alias("n_langs"),
    )


# -- URL canonicalization / dedup ------------------------------------------

# NOTE deliberately excludes bare "ref": it is widely FUNCTIONAL (e.g. a
# git branch selector), and merging on it would violate the cosmetic-only
# contract; ref_src (Twitter's tracking tag) is safe to strip.
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)="


def canonical_url(col):
    """Training-corpus URL canonicalization — the identity under which a
    web-crawl dedups documents fetched through cosmetically different
    URLs.  Rules (each a pure column expression, SQL-replayable):

    - drop the fragment (``#...``),
    - lowercase scheme and host,
    - strip default ports (``http://…:80``, ``https://…:443``),
    - drop tracking query params (utm_*, fbclid, gclid, msclkid,
      ref_src — but NOT bare ``ref``, which is widely functional; see the
      NOTE above) while PRESERVING the order of the surviving params
      (reordering would merge genuinely different resources whose servers
      are order-sensitive; cosmetic-only is the conservative contract),
    - collapse trailing slashes on a non-root path.

    Non-absolute inputs (no ``scheme://`` — bare hosts, relative paths,
    mailto:) pass through UNCHANGED: canonicalizing them would collapse
    every such value to one string and merge unrelated documents.

    Scale: one regex/HOF projection per row, zero shuffle.
    """
    u = F.regexp_replace(col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(
        F.regexp_replace(rest, r"/+$", "") == "", F.lit("/")
    ).otherwise(F.regexp_replace(rest, r"/+$", ""))
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM_RE),
        ),
        "&",
    )
    built = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.length(kept) > 0, F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", col).otherwise(built)


def url_dedup(
    urls: DataFrame, url_col: str = "url", id_col: str = "url_id"
) -> DataFrame:
    """Group URLs by canonical form: (canon_url, n_urls, min_id) — one
    shuffle on the canonical string; the min-id representative is the
    deterministic survivor (the URL family's exact-dedup twin)."""
    return (
        urls.select(
            F.col(id_col).alias("_id"), canonical_url(F.col(url_col)).alias("canon_url")
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("_id").alias("min_id"),
        )
    )


def url_domain(col):
    """Registrable-domain heuristic from a URL or bare host: lowercase
    host (port stripped), reduced to its last two labels — the per-domain
    grouping key a crawl pipeline caps and audits on.

    Deliberately a documented HEURISTIC, not a public-suffix-list lookup
    (the PSL is a versioned external dataset; at 100 TB it would ship as a
    broadcast dimension table joined on the exact host, and this column
    is the fallback).  Two-label reduction is exact for .com/.org-style
    suffixes and conservative (over-groups) for ccSLDs like .co.uk.
    Inputs with no extractable host yield NULL.
    """
    host = _url_host(col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)


def domain_stats(
    urls: DataFrame, url_col: str = "url", id_col: str = "url_id"
) -> DataFrame:
    """Per-domain crawl audit: (domain, n_urls, n_canonical) — total rows
    and distinct canonical URLs per registrable domain.  The ratio is the
    domain's cosmetic-duplication factor (a mirror/tracking-param farm
    shows n_urls >> n_canonical), the standard input to per-domain caps
    (`sampling.per_source_cap` with domain as the source column).  One
    groupBy shuffle on the domain key."""
    return (
        urls.select(
            url_domain(F.col(url_col)).alias("domain"),
            canonical_url(F.col(url_col)).alias("_c"),
        )
        .where(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("_c").alias("n_canonical"),
        )
    )


# -- PSL-backed registrable domains (round 4; VERDICT r3 task 6) ------------


def load_psl(spark, path: str) -> DataFrame:
    """Parse a Public Suffix List file (PSL syntax: one rule per line,
    ``//`` comments, ``*.`` wildcards, ``!`` exceptions) into the
    broadcast dimension table (rule, is_exception, n_labels) —
    ``rule`` keeps the ``*.`` prefix (it IS the join key for wildcard
    candidates) but drops the ``!`` marker."""
    rows = []
    with open(path) as f:
        for line in f:
            t = line.strip()
            if not t or t.startswith("//"):
                continue
            is_exc = t.startswith("!")
            rule = t[1:] if is_exc else t
            rows.append((rule, is_exc, len(rule.split("."))))
    return spark.createDataFrame(
        rows, "rule string, is_exception boolean, n_labels int"
    )


def _url_host(col):
    """Lowercased host from an absolute URL or a bare dotted host."""
    return F.lower(
        F.coalesce(
            # absolute URL: authority between :// and the next delimiter
            F.nullif(
                F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1),
                F.lit(""),
            ),
            # bare host[/path] (no scheme) — must look like a dotted name
            F.nullif(
                F.regexp_extract(col, r"^([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+)", 1),
                F.lit(""),
            ),
        )
    )


def registrable_domain_psl(
    urls: DataFrame,
    psl: DataFrame,
    url_col: str = "url",
    id_col: str = "url_id",
) -> DataFrame:
    """Registrable domain via the Public Suffix List algorithm — the
    PRIMARY path for per-domain grouping (the two-label `url_domain`
    heuristic stays as the documented no-dimension-table fallback):

    1. every label-suffix of the host is a match candidate; a suffix of
       k labels also emits the wildcard key ``*.`` + its last k-1 labels;
    2. candidates equi-join the broadcast PSL table on the rule string;
    3. prevailing rule: an exception rule wins outright (public suffix =
       rule minus its first label), else the longest match, else the
       default rule ``*`` (public suffix = 1 label);
    4. registrable domain = public suffix + one label; a host that IS a
       public suffix has none (NULL).

    Output: (id_col, host, domain).  Scale: the full PSL is ~10k rules —
    a classic broadcast dimension; the explode emits n + (n-1) candidate
    rows per URL (hosts have ≤ ~10 labels), and the per-URL aggregate
    rides the explode's partitioning — no extra shuffle beyond the one
    groupBy on the URL id.
    """
    host = _url_host(F.col(url_col))
    base = urls.select(
        F.col(id_col).alias("_uid"), host.alias("host")
    ).where(F.col("host").isNotNull())
    parts = F.split(F.col("host"), r"\.")
    n = F.size(parts)
    exacts = F.transform(
        F.sequence(F.lit(1), n),
        lambda k: F.struct(
            k.alias("k"),
            F.concat_ws(".", F.slice(parts, n - k + 1, k)).alias("key"),
        ),
    )
    wilds = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(2), n),
            lambda k: F.struct(
                k.alias("k"),
                F.concat(
                    F.lit("*."),
                    F.concat_ws(".", F.slice(parts, n - k + 2, k - 1)),
                ).alias("key"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<k:int,key:string>>"))
    cand = base.select(
        "_uid", "host", F.size(F.split(F.col("host"), r"\.")).alias("n"),
        F.explode(F.concat(exacts, wilds)).alias("c"),
    ).select("_uid", "host", "n", F.col("c.k").alias("k"), F.col("c.key").alias("key"))
    m = cand.join(F.broadcast(psl), cand["key"] == psl["rule"], "left")
    agg = m.groupBy("_uid", "host", "n").agg(
        F.max(F.when(F.col("is_exception"), F.col("n_labels") - 1)).alias("exc_ps"),
        F.max(
            F.when(F.col("is_exception") == False, F.col("k"))  # noqa: E712
        ).alias("norm_ps"),
    )
    ps = F.coalesce(F.col("exc_ps"), F.col("norm_ps"), F.lit(1))
    parts2 = F.split(F.col("host"), r"\.")
    domain = F.when(
        F.col("n") > ps,
        F.concat_ws(".", F.slice(parts2, F.col("n") - ps, ps + 1)),
    )
    return agg.select(
        F.col("_uid").alias(id_col), "host", domain.alias("domain")
    )


def domain_stats_psl(
    urls: DataFrame,
    psl: DataFrame,
    url_col: str = "url",
    id_col: str = "url_id",
) -> DataFrame:
    """Per-domain crawl audit keyed on the PSL registrable domain — the
    exact version of :func:`domain_stats` (which over-groups ccSLDs like
    ``.co.uk`` under its two-label heuristic).  Same output contract:
    (domain, n_urls, n_canonical); hosts that ARE public suffixes (no
    registrable domain) are excluded."""
    d = registrable_domain_psl(urls, psl, url_col, id_col)
    joined = urls.select(
        F.col(id_col).alias("_uid"),
        canonical_url(F.col(url_col)).alias("_c"),
    ).join(d.select(F.col(id_col).alias("_uid"), "domain"), "_uid")
    return (
        joined.where(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("_c").alias("n_canonical"),
        )
    )
