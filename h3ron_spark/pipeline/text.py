"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

Everything here is a pure Spark SQL expression (whole-stage codegen,
no Python in the hot path) so a 100 TB documents scan stays JVM-side
with full predicate pushdown. Each has an exact ANSI-SQL twin used as
the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword list shared with the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker words for the n-gram/stopword language-ID heuristic. The
# synthetic corpus is English-ish; real corpora would extend this map.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "fr": ("le", "la", "et", "de"),
    "es": ("el", "la", "y", "de"),
    "de": ("der", "die", "und", "von"),
}


def tokens(text) -> Column:
    """Whitespace tokenization -> array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def with_tokens(text, build) -> Column:
    """Evaluate ``build(token_array)`` with the token array bound ONCE
    as a higher-order-function lambda variable.

    Inlining ``tokens(text)`` into a per-element expression (e.g.
    ``element_at(t, i)`` inside a ``transform``) re-runs the split for
    EVERY element — Catalyst does not common-subexpression across
    lambda bodies, and the measured cost is ~15x on shingle-shaped
    expressions. Wrapping the array as the single element of a
    ``transform`` binds it to a lambda variable, which is evaluated
    exactly once per row."""
    return F.element_at(F.transform(F.array(tokens(text)), build), 1)


def token_count(text) -> Column:
    return F.size(tokens(text))


def char_per_token(text) -> Column:
    """Mean token length (characters per token)."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.round(total.cast("double") / F.size(t), 4)


def stopword_ratio(text) -> Column:
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(list(STOPWORDS))))
    return F.round(hits.cast("double") / F.size(t), 4)


def distinct_token_ratio(text) -> Column:
    """Lexical diversity: distinct tokens / tokens (low => repetitive)."""
    t = tokens(text)
    return F.round(F.size(F.array_distinct(t)).cast("double") / F.size(t), 4)


def quality_score(text) -> Column:
    """Deterministic [0,1] quality heuristic: length band + diversity -
    stopword saturation. Mirrors the shape of C4/Gopher-style filters.
    """
    n = token_count(text)
    len_band = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        len_band * F.lit(0.4)
        + distinct_token_ratio(text) * F.lit(0.4)
        + (F.lit(1.0) - stopword_ratio(text)) * F.lit(0.2)
    )
    return F.round(score, 4)


def fingerprint(text) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    (md5 is available and bit-identical in both Spark and DuckDB, which
    makes the oracle exact; a rolling/Karp-Rabin hash would not be.)
    """
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(norm)


def lang_guess(text) -> Column:
    """Stopword-marker language ID heuristic; 'und' when nothing matches."""
    t = tokens(text)
    out = F.lit("und")
    best = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(t, lambda x: x.isin(list(markers))))
        out = F.when(hits > best, F.lit(lang)).otherwise(out)
        best = F.when(hits > best, hits).otherwise(best)
    return out


# GPT-2-style pre-tokenizer shape, reduced to a class both Spark (Java
# regex) and DuckDB (RE2) evaluate identically: alnum runs, single
# non-alnum-non-space marks, no lookarounds.
BPE_ISH_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text) -> Column:
    """Subword-ish tokenization (BPE pre-tokenizer shape): alnum runs
    split from punctuation marks. array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_REGEX), F.lit(0))


def bpe_ish_token_count(text) -> Column:
    return F.size(bpe_ish_tokens(text))


def _max_equal_run(arr) -> Column:
    """Count of the most frequent element = longest equal run in the
    SORTED array — ONE aggregate pass (O(n)), not the O(n * distinct)
    count-per-distinct nest (which pays interpreted-lambda overhead
    per element pair and was ~100x slower)."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(" <init>").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def top_token_fraction(text) -> Column:
    """Gopher-style repetition signal: the share of tokens taken by
    the single most frequent token (high => degenerate repetition)."""
    t = tokens(text)
    return F.round(_max_equal_run(t).cast("double") / F.size(t), 4)


def top_bigram_fraction(text) -> Column:
    """Share of bigrams taken by the most frequent bigram (the
    Gopher duplicate-2-gram family). 0.0 for docs under 2 tokens.
    Token array bound once (see :func:`with_tokens`)."""

    def build(t):
        n = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )
        return F.when(n < 2, F.lit(0.0)).otherwise(
            F.round(_max_equal_run(grams).cast("double") / (n - 1), 4)
        )

    return with_tokens(text, build)


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style perplexity proxy: score each document by the mean
    negative log-probability of its tokens under the corpus's own
    unigram distribution (high = unusual/garbage tokens, low =
    head-heavy text). Two passes, all JVM: (1) token counts — one
    map-side-combinable aggregation; (2) explode + broadcast-join the
    (vocabulary-sized) frequency table + per-doc mean. Returns
    (id, n_tokens, mean_neg_logp)."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    )
    # materialize the vocabulary-sized table once (localCheckpoint,
    # not persist: checkpoint blocks are reclaimed by the context
    # cleaner when the frame is dereferenced, so repeated calls in a
    # long session don't accumulate executor cache): the corpus
    # tokenizes exactly twice (freq build + scoring join) — the token
    # total comes from a cheap aggregate over the materialized freqs,
    # NOT a third scan
    freqs = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    total = freqs.agg(F.sum("_cnt")).collect()[0][0]
    # empty corpus: sum() is NULL — any positive total keeps the
    # (empty) scored frame well-defined instead of raising on float()
    total = float(total or 1)
    scored = tok.join(F.broadcast(freqs), "tok").withColumn(
        "_nlp", -F.log(F.col("_cnt") / F.lit(total))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_nlp"), 4).alias("mean_neg_logp"),
    )


def repetition_flags(
    text,
    max_top_token_fraction: float = 0.2,
    max_top_bigram_fraction: float = 0.18,
) -> Column:
    """True when the document passes the repetition gates (the
    keep-side of a Gopher-style filter)."""
    return (top_token_fraction(text) <= max_top_token_fraction) & (
        top_bigram_fraction(text) <= max_top_bigram_fraction
    )


def winnow_fingerprints(text, w: int = 16, window: int = 8) -> Column:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): md5 every character ``w``-gram of the normalized
    text, keep the lexicographic minimum of each sliding ``window`` of
    gram hashes, and return the sorted distinct minima
    (array<string>). Guarantee: any shared substring of length
    >= w + window - 1 between two documents yields at least one shared
    fingerprint — the partial-overlap detector exact dedup cannot be.

    All higher-order JVM expressions (sequence + transforms), no
    Python; md5-hex strings order identically in Spark and DuckDB, so
    the oracle replicates this exactly with no integer conversions.
    The normalized text and the gram array are each bound ONCE as
    lambda variables (see :func:`with_tokens` for why).
    """
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")

    def over_grams(g):
        n_win = F.size(g) - F.lit(window - 1)
        mins = F.when(n_win >= 1, F.transform(
            F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
            lambda j: F.array_min(F.slice(g, j, window)),
        )).otherwise(F.array().cast("array<string>"))
        return F.array_sort(F.array_distinct(mins))

    def over_text(t):
        n_grams = F.length(t) - F.lit(w - 1)
        grams = F.when(n_grams >= 1, F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.md5(F.substring(t, i, F.lit(w))),
        )).otherwise(F.array().cast("array<string>"))
        return F.element_at(F.transform(F.array(grams), over_grams), 1)

    return F.element_at(F.transform(F.array(norm), over_text), 1)


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 16,
    window: int = 8,
    max_doc_freq: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Partial-overlap dedup candidates via shared winnowing
    fingerprints: explode per-doc fingerprints, drop fingerprints
    appearing in more than ``max_doc_freq`` documents (boilerplate —
    the skew cap that keeps the self-join linear in true overlap
    pairs, the same discipline as the LSH band-bucket caps), self-join
    on the fingerprint, and keep ordered pairs sharing at least
    ``min_shared`` fingerprints.

    Returns (doc_a, doc_b, n_shared). Scale shape: the only shuffles
    are keyed on the fingerprint hash (well spread by construction)
    and the (doc_a, doc_b) pair aggregation; nothing is quadratic in
    corpus size — candidate volume is bounded by
    max_doc_freq^2 per fingerprint.
    """
    # materialize the exploded fingerprint table once: the frequency
    # cap and BOTH sides of the self-join read it, and without the
    # checkpoint Catalyst re-runs the md5 gram scan four times (same
    # localCheckpoint-not-persist rationale as unigram_logprob_scores)
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, w, window)).alias("fp"),
    ).localCheckpoint(eager=True)
    freq_w = fps.groupBy("fp").agg(
        F.count(F.lit(1)).alias("_df")
    )
    kept = fps.join(
        freq_w.filter(F.col("_df") <= max_doc_freq).select("fp"), "fp"
    )
    a = kept.select(F.col("fp"), F.col("id").alias("doc_a"))
    b = kept.select(F.col("fp").alias("fp2"), F.col("id").alias("doc_b"))
    pairs = a.join(
        b, (a["fp"] == b["fp2"]) & (a["doc_a"] < b["doc_b"])
    ).groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_shared"))
    return pairs.filter(F.col("n_shared") >= min_shared)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window document chunking (the retrieval/embedding
    pre-pass): whitespace tokens re-joined into windows of
    ``chunk_tokens`` with ``overlap`` tokens of context carried
    between consecutive chunks (stride = chunk_tokens - overlap); the
    final window is the remainder (never empty, never duplicated).

    Pure higher-order SQL — tokenize once, compute the stride count
    arithmetically, ``explode(sequence(...))`` + ``slice`` + join back
    to text — so it is whole-stage-codegen end to end, linear in
    corpus size, with deterministic ``chunk_id`` = (doc, index). At
    100 TB this is one scan with no shuffle at all (explode is
    pipeline-local); chunk rows flow straight into the embedding or
    fingerprint stage.

    Output: ``(id, chunk_id, n_chunks, chunk_text, n_tokens)``.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # array_remove(…, ""): split emits empty strings for leading
    # whitespace (trim strips spaces only, not tabs/newlines) and for
    # the fully-empty document; a doc with zero real tokens must emit
    # ZERO chunks, not one empty chunk
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_remove(F.split(text_col, r"\s+"), "").alias("_t"),
        )
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") > 0)
    )
    # windows start at 0, stride, 2*stride, ...; the last start is the
    # largest multiple of stride strictly below n (so a doc shorter
    # than chunk_tokens yields exactly one chunk)
    n_chunks = (
        F.when(F.col("_n") <= chunk_tokens, F.lit(1))
        .otherwise(
            F.ceil((F.col("_n") - F.lit(chunk_tokens)) / F.lit(stride)) + 1
        )
        .cast("int")
    )
    chunks = toks.withColumn("_k", n_chunks).select(
        "id",
        "_t",
        "_n",
        "_k",
        F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("chunk_id"),
    )
    return chunks.select(
        "id",
        "chunk_id",
        F.col("_k").alias("n_chunks"),
        F.array_join(
            F.slice(
                "_t", F.col("chunk_id") * stride + 1, F.lit(chunk_tokens)
            ),
            " ",
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.col("_n") - F.col("chunk_id") * stride
        ).cast("int").alias("n_tokens"),
    )


# PII patterns (Java regex — evaluated JVM-side by regexp_replace; kept
# deliberately conservative: high-precision formats, not NER)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}"
            r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\b",
    "phone": r"\+?[0-9][0-9 ()\-]{7,16}[0-9]",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def redact_pii(text, kinds: list[str] | None = None):
    """Struct column ``(clean_text, n_<kind>...)``: high-precision PII
    redaction (emails, IPv4, phone-shaped digit runs, SSN-shaped ids)
    replacing each match with ``<KIND>`` sentinels, plus per-kind
    match counts for the curation report.

    Pure JVM ``regexp_replace`` chain — no Python in the hot path, one
    pass per kind, whole-stage codegen. Counts are derived from the
    length delta of literally deleting the marker. Precedence is
    fixed regardless of caller order: ssn before phone (an SSN is
    phone-shaped), email before ipv4 (an address can embed a dotted
    quad in its host part). ``kinds`` defaults to all four.
    """
    kinds = list(PII_PATTERNS) if kinds is None else kinds
    bad = [k for k in kinds if k not in PII_PATTERNS]
    if bad:
        raise ValueError(f"unknown PII kinds: {bad}")
    # fixed precedence regardless of caller order
    kinds = [k for k in ("ssn", "email", "phone", "ipv4") if k in kinds]
    cur = F.col(text) if isinstance(text, str) else text
    out_fields = []
    for k in kinds:
        marker = f"<{k.upper()}>"
        nxt = F.regexp_replace(cur, PII_PATTERNS[k], marker)
        # every replacement leaves exactly one marker: count occurrences
        # via the length delta of literally deleting the marker text
        n = (
            (F.length(nxt) - F.length(F.replace(nxt, F.lit(marker), F.lit(""))))
            / len(marker)
        ).cast("int")
        out_fields.append(n.alias(f"n_{k}"))
        cur = nxt
    return F.struct(cur.alias("clean_text"), *out_fields)
