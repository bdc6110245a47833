"""Text analysis over the ``documents`` table — training-data-pipeline ops.

Beyond the reference's surface (the reference has no string functions at
all, SURVEY.md §2.1); these are the text-quality operators a 100 TB corpus
pipeline needs. All are pure built-in-function projections/aggregations:
no UDFs, fully codegen'd, shuffle only where an explode-regroup is inherent
(fingerprinting). Every computed double is rounded at the query boundary for
cross-engine hash stability (see __spark_entry__).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ccm_spark.functions.hashing import md5_long, tokens_col
from ccm_spark.functions.partitioning import spread

P31 = 2_147_483_647

#: language marker stopwords for the n-gram/stopword language-ID heuristic.
#: Deliberately tiny and deterministic; ties resolve alphabetically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "es": ("el", "la", "de", "que", "en", "los", "por", "una"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

#: BPE-ish token estimate: English BPE vocabularies average ~4 chars/token,
#: so a word of length n contributes ceil(n/4) subword units.
BPE_CHARS_PER_TOKEN = 4


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token statistics: counts, distinct counts, type-token ratio,
    mean token length — the raw signals for quality filters."""
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length("text").alias("n_chars_text"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_unique",
        "n_chars_text",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.col("n_unique") / F.col("n_tokens"))
        .alias("ttr"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0, 1]: length saturation x lexical
    diversity x alpha-token purity. Deterministic arithmetic only."""
    toks = tokens_col("text")
    alpha = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("double").alias("n_unique"),
        F.size(alpha).cast("double").alias("n_alpha"),
    )
    saturation = F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
    diversity = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("n_unique") / F.col("n_tokens")
    )
    purity = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("n_alpha") / F.col("n_tokens")
    )
    return base.select(
        "doc_id",
        (saturation * (0.5 + 0.5 * diversity) * purity).alias("quality"),
    )


#: Gopher/C4-style rule thresholds for the keep/drop quality filter
QF_MIN_TOKENS = 10
QF_MAX_TOKENS = 100_000
QF_MIN_MEAN_TOKEN_LEN = 2.0
QF_MAX_MEAN_TOKEN_LEN = 12.0
QF_MIN_ALPHA_FRAC = 0.6
QF_MIN_STOPWORD_FRAC = 0.05


def quality_filter(docs: DataFrame) -> DataFrame:
    """Rule-based keep/drop document filter (the Gopher/C4 pattern): token
    count bounds, mean token length bounds, alphabetic-token fraction, and
    stopword fraction. The stopword markers follow the document's ``lang``
    column — an es/de/fr/zh doc is scored against its own language's
    markers, not English's (which would systematically drop non-English
    docs); a lang outside LANG_MARKERS falls back to the union of all
    markers ("any natural language" signal). Emits the signals plus the
    ``keep`` verdict so downstream stages can audit drops.

    Pure projections (mean token length = chars of the token concat / count
    — no per-token fold), one narrow pass, no shuffle; the per-language
    branch is a codegen'd CASE, not a join.
    """
    toks = tokens_col("text")
    alpha = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))

    def marker_count(words: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    all_markers = tuple(w for _, ws in sorted(LANG_MARKERS.items()) for w in ws)
    stops = None
    for lang, words in sorted(LANG_MARKERS.items()):
        cond, cnt = F.col("lang") == lang, marker_count(words)
        stops = F.when(cond, cnt) if stops is None else stops.when(cond, cnt)
    stops = stops.otherwise(marker_count(all_markers))
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(F.concat_ws("", toks)).cast("double").alias("tok_chars"),
        F.size(alpha).cast("double").alias("n_alpha"),
        stops.cast("double").alias("n_stop"),
    )
    n = F.col("n_tokens")
    zero = n == 0
    mean_len = F.when(zero, F.lit(0.0)).otherwise(F.col("tok_chars") / n)
    alpha_frac = F.when(zero, F.lit(0.0)).otherwise(F.col("n_alpha") / n)
    stop_frac = F.when(zero, F.lit(0.0)).otherwise(F.col("n_stop") / n)
    keep = (
        n.between(QF_MIN_TOKENS, QF_MAX_TOKENS)
        & mean_len.between(QF_MIN_MEAN_TOKEN_LEN, QF_MAX_MEAN_TOKEN_LEN)
        & (alpha_frac >= QF_MIN_ALPHA_FRAC)
        & (stop_frac >= QF_MIN_STOPWORD_FRAC)
    )
    return base.select(
        "doc_id",
        "n_tokens",
        mean_len.alias("mean_token_len"),
        alpha_frac.alias("alpha_frac"),
        stop_frac.alias("stopword_frac"),
        keep.alias("keep"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score each language by marker-token
    hits; argmax wins, ties break alphabetically, zero hits -> 'und'."""
    toks = tokens_col("text")

    def marker_hits(words: tuple[str, ...]) -> F.Column:
        # closure (not a lambda default arg: pyspark HOFs introspect the
        # lambda arity, so an extra bound parameter breaks them)
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = [
        F.struct(marker_hits(words).alias("hits"), F.lit(lang).alias("lang"))
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    # array_max on structs orders by (hits, lang); alphabetical tie-break
    # needs inverted lang ordering, so pick via sort_array descending on hits
    # with lang ascending: encode as (hits, negated-lang) is messy — instead
    # sort structs of (hits desc) by sorting on (-hits) isn't expressible for
    # strings; use aggregate over the array keeping the better struct.
    best = F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(
            (s["hits"] > acc["hits"]), s
        ).otherwise(acc),
    )
    return docs.select(
        "doc_id",
        F.when(best["hits"] <= 0, F.lit("und")).otherwise(best["lang"]).alias("predicted_lang"),
        "lang",
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, regex word-units, and a BPE-ish subword estimate."""
    toks = tokens_col("text")
    units = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+"), 0)
    bpe_est = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / BPE_CHARS_PER_TOKEN).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        F.size(units).alias("regex_tokens"),
        bpe_est.alias("bpe_est_tokens"),
    )


def vocab_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """(rank, token, n_docs, n_total): the corpus's top-k tokens by total
    occurrences (ties by token asc) with document frequencies — the
    vocabulary/stopword-discovery pass of a corpus pipeline.

    Explode -> two-level aggregate: the per-(doc, token) pre-aggregate runs
    map-side, so the global token aggregation shuffles one row per distinct
    (doc, token), not one per occurrence; the final top-k is a single-group
    window over only the aggregated token relation. Token skew ("the")
    is absorbed by the partial aggregation.
    """
    docs = spread(docs, "doc_id")
    occ = docs.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    per_doc = occ.groupBy("doc_id", "token").agg(F.count("*").alias("n"))
    totals = per_doc.groupBy("token").agg(
        F.count("*").alias("n_docs"), F.sum("n").alias("n_total")
    )
    # two-phase top-k (same trick as events_pair_series): at corpus scale
    # the distinct-token relation is junk-token-huge, so prune each
    # partition to its local top-k before the single-task global rank
    order = [F.col("n_total").desc(), F.col("token").asc()]
    local_w = Window.partitionBy("split_id").orderBy(*order)
    survivors = (
        totals.withColumn("split_id", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(local_w))
        .where(F.col("lr") <= k)
    )
    w = Window.orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("rank").cast("int").alias("rank"), "token", "n_docs", "n_total")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Positional rolling document fingerprint.

    fp = sum_i ((md5_60bit(token_i) mod (2^31-1)) * (i+1)) mod (2^31-1) —
    order-sensitive, exact integer arithmetic, identical in any engine.
    Computed per document in an Arrow-batched pandas UDF with the mod
    applied every step: ZERO shuffle (a narrow projection), and exact for
    any document length — the explode -> groupBy formulation this replaces
    shuffled every token's partial term and its int64 sum overflows around
    92k tokens per document (a real length in web corpora). ``spread``
    first: single-file local inputs otherwise run the UDF on one core.
    Token-less docs drop out (parity with the explode semantics and the
    DuckDB oracle).
    """
    from ccm_spark.functions.partitioning import spread
    from ccm_spark.functions.vector_udfs import fingerprint_udf

    docs = spread(docs, "doc_id")
    return docs.select(
        "doc_id", fingerprint_udf(F.col("text")).alias("fingerprint")
    ).where(F.col("fingerprint").isNotNull())


#: cross-engine-safe PII patterns: no lookarounds/backrefs, so Java regex
#: (Spark) and RE2 (DuckDB) agree match-for-match. Emails are redacted
#: BEFORE digit runs so an address's local-part digits don't double-count.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
NUMBER_RE = "[0-9]{6,}"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails and long digit runs; emit counts + a redacted-text
    fingerprint. One narrow projection — no shuffle, no UDF: regexp ops
    are codegen'd JVM-side, so at 100 TB this is a map-only scan pass.

    Returns (doc_id, n_emails, n_numbers, red_len, red_fp) where red_fp is
    the engine-portable 60-bit md5 of the redacted text (the driver hash
    then pins the exact redaction output, not just the counts).
    """
    c = F.col(text_col)
    red1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    red2 = F.regexp_replace(red1, NUMBER_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(red1, F.lit(NUMBER_RE), 0)).cast("long").alias("n_numbers"),
        F.length(red2).cast("long").alias("red_len"),
        md5_long(red2).alias("red_fp"),
    )


#: IPv4 with per-octet range check (RE2 + Java portable: no lookaround)
IP_RE = (
    "\\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "(?:\\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b"
)
#: separator-delimited phone shapes (+CC optional; '.'/'-'/' ' groups).
#: The optional '+' sits OUTSIDE the \b (between two non-word chars there
#: is no boundary, so "\b\\+?" would never match a leading plus).
PHONE_RE = (
    "\\+?\\b[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{3,4}(?:[-. ][0-9]{3,4})?\\b"
)
#: payment-card candidates: 4-4-4-rest with one separator style, or a
#: contiguous 13-19 digit run (word-bounded, so a 20+ digit run is NOT a
#:  candidate and stays a generic <NUM>)
CARD_RE = (
    "\\b[0-9]{4}(?:[- ][0-9]{4}){2}[- ][0-9]{1,7}\\b|\\b[0-9]{13,19}\\b"
)


def _luhn_ok(s):
    """Column predicate: the digit content of ``s`` passes the Luhn
    checksum and has a card-plausible length (13-19). Pure codegen
    (split/transform/aggregate) — the same integer arithmetic the
    DuckDB twin runs, so verification can never split engines."""
    digits = F.regexp_replace(s, "[^0-9]", "")
    # F.split's trailing-empty-string quirk is filtered out so the cast
    # to int can never see ''
    rev = F.filter(F.split(F.reverse(digits), ""), lambda ch: ch != F.lit(""))
    terms = F.transform(
        rev,
        lambda ch, i: F.when(
            i % 2 == 1,
            ch.cast("int") * 2
            - F.when(ch.cast("int") * 2 > 9, F.lit(9)).otherwise(F.lit(0)),
        ).otherwise(ch.cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
    n = F.length(digits)
    return (total % 10 == 0) & (n >= 13) & (n <= 19)


def redact_pii_extended(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """:func:`redact_pii` plus VALIDATED payment cards, IPv4 addresses,
    and separator-delimited phone numbers — still one narrow projection,
    zero UDFs: everything including the Luhn checksum runs as codegen
    expressions (split / transform / aggregate / fold), so at 100 TB
    this stays a map-only scan pass.

    Card redaction is checksum-GATED: candidate runs (CARD_RE) are
    extracted, Luhn-verified in-plan, and only verified strings are
    replaced (longest-first deterministic fold, so a short candidate
    that is a substring of a longer one can never corrupt it) — a
    16-digit run that fails Luhn is NOT a card and falls through to the
    generic ``<NUM>`` class. Redaction order: email -> card -> IP ->
    phone -> residual digit runs; each stage's counts are measured on
    the previous stage's output so nothing is double-counted. Matching
    is deliberately over-broad where ambiguous (heuristic PII must fail
    SAFE — redacting a date fragment is acceptable, leaking a phone
    number is not).

    Returns (doc_id, n_emails, n_cards, n_ips, n_phones, n_numbers,
    red_len, red_fp); red_fp pins the exact redacted text cross-engine
    (the ``sql_redact_pii_extended`` twin replays every stage,
    Luhn fold included)."""
    c = F.col(text_col)
    red1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    cands = F.array_distinct(F.regexp_extract_all(red1, F.lit(CARD_RE), 0))
    verified = F.filter(cands, _luhn_ok)
    # longest-first deterministic fold: sort "LL<cand>" keys descending
    # (identical order in both engines), strip the 2-char length prefix
    keys = F.transform(
        verified, lambda s: F.concat(F.lpad(F.length(s), 2, "0"), s)
    )
    ordered = F.reverse(F.sort_array(keys))
    red2 = F.aggregate(
        ordered,
        red1,
        lambda acc, k: F.replace(acc, F.substring(k, 3, 32), F.lit("<CARD>")),
    )
    red3 = F.regexp_replace(red2, IP_RE, "<IP>")
    red4 = F.regexp_replace(red3, PHONE_RE, "<PHONE>")
    red5 = F.regexp_replace(red4, NUMBER_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(verified).cast("long").alias("n_cards"),
        F.size(F.regexp_extract_all(red2, F.lit(IP_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(red3, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(red4, F.lit(NUMBER_RE), 0)).cast("long").alias("n_numbers"),
        F.length(red5).cast("long").alias("red_len"),
        md5_long(red5).alias("red_fp"),
    )


def repetition_signals(docs: DataFrame, width: int = 2) -> DataFrame:
    """Gopher-style repetition signals per doc: 2-gram total/top/duplicated
    occurrence counts and fractions. High top2_frac or dup2_frac marks
    machine-generated or boilerplate-heavy text.

    One Arrow-batched pass (the per-doc gram Counter is O(tokens)); no
    shuffle at all — the signals are row-local, so at 100 TB this is a
    map-only scan like the other quality projections.
    """
    from ccm_spark.functions.vector_udfs import gram_stats_udf

    sig = gram_stats_udf(width)
    base = spread(docs, "doc_id").select("doc_id", sig(F.col("text")).alias("s"))
    n = F.col("s.n_grams")
    frac = lambda c: F.when(n > 0, F.round(c / n, 6) + F.lit(0.0)).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        n.alias("n_2grams"),
        F.col("s.top_count").alias("top2_count"),
        F.col("s.dup_occ").alias("dup2_occ"),
        frac(F.col("s.top_count")).alias("top2_frac"),
        frac(F.col("s.dup_occ")).alias("dup2_frac"),
    )


def boilerplate_ngrams(
    docs: DataFrame, width: int = 3, min_docs: int = 2, k: int = 20
) -> DataFrame:
    """Template/boilerplate detection: top-k token w-grams per source by
    document frequency (grams counted once per doc). The per-source lists
    are what a C4-style boilerplate stripper would subtract.

    Plan shape: Arrow-batched distinct-gram extraction, explode, one
    map-side-combined count keyed on (source, gram) — skew-free because
    the key includes the gram — then the two-phase local/global top-k
    (same pattern as vocab_topk) so no task ever sorts a whole source's
    gram relation.
    """
    from ccm_spark.functions.vector_udfs import shingle_text_udf

    sh = shingle_text_udf(width)
    grams = spread(docs, "doc_id").select(
        "source", F.explode(sh(F.col("text"))).alias("gram")
    )
    counts = grams.groupBy("source", "gram").agg(F.count("*").alias("n_docs"))
    order = [F.col("n_docs").desc(), F.col("gram").asc()]
    local_w = Window.partitionBy("source", "split_id").orderBy(*order)
    survivors = (
        counts.where(F.col("n_docs") >= min_docs)
        .withColumn("split_id", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(local_w))
        .where(F.col("lr") <= k)
    )
    w = Window.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", F.col("rank").cast("int").alias("rank"), "gram", "n_docs")
    )


def corpus_profile(docs: DataFrame) -> DataFrame:
    """The corpus report card: per-(lang, source) cell AND every margin
    (lang totals, source totals, grand total — one CUBE pass, the
    events ``hourly_rollup`` shape) of document count, token mass, and
    token-length extremes. The aggregate a pipeline prints before and
    after every filter stage to see what each stage did to the mix —
    exactly the numbers ``mixing.temperature_rates`` and
    ``mixing.budget_select`` consume.

    One narrow tokenize projection + one Expand aggregate (4 grouping
    sets); all outputs are exact integers except ``avg_tokens``
    (rounded at 6). NULL lang/source in a margin row means "all";
    ``is_total`` disambiguates a real NULL group value from a margin.
    """
    per_doc = spread(docs, "doc_id").select(
        "lang", "source", F.size(tokens_col("text")).cast("long").alias("n")
    )
    return (
        per_doc.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.round(F.avg("n"), 6).alias("avg_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
            # grouping() is only legal inside the cube aggregate
            (F.grouping("lang") + F.grouping("source"))
            .cast("int")
            .alias("is_total"),
        )
    )


def classifier_weights(log2_features: int = 18, seed: int = 11):
    """Deterministic demo weight vector for :func:`classifier_score` —
    splitmix-mixed uniforms in [-1, 1), a stand-in for offline-trained
    quality-classifier weights (the engine ships the SERVING path; training
    happens elsewhere). Same seed -> same model on any host."""
    import numpy as np

    from ccm_spark.functions.hashing import bloom_positions

    idx = np.arange(1 << log2_features, dtype=np.int64) + np.int64(seed) * np.int64(1 << 40)
    pos = bloom_positions(idx, 1, 63)[:, 0]
    return (pos.astype(np.float64) / float(1 << 62)) - 1.0


def classifier_score(
    docs: DataFrame,
    weights=None,
    log2_features: int = 18,
    bias: float = 0.0,
    bigrams: bool = True,
    seed: int = 11,
    score_col: str = "model_score",
) -> DataFrame:
    """Model-based quality scoring: sigmoid(mean-pooled hashed
    unigram+bigram weights + bias) per document — the serving path of a
    fasttext-style linear quality classifier (hashing trick, no
    vocabulary file), complementing the rule-based
    :func:`quality_score`/:func:`quality_filter`. This is the
    PRODUCTION-shape variant; ``pipeline.classify`` holds the
    oracle-grade twin whose training and serving are exactly
    DuckDB-replayable (see its module docstring for the regime split).

    Pass ``weights`` (float64, size 2**log2_features) from an offline
    training run; the default is the deterministic
    :func:`classifier_weights` demo model. Scale shape: the weight vector
    ships ONCE per executor via ``SparkContext.broadcast`` (2 MB at the
    default 2^18 features; 2^24 = 128 MB is still executor-trivial), and
    scoring is one narrow Arrow pass — no join, no shuffle, runs
    unchanged on a streaming source. Token-less docs score NULL.
    """
    import numpy as np

    from ccm_spark.functions.vector_udfs import linear_score_udf

    if weights is None:
        weights = classifier_weights(log2_features, seed)
    w = np.ascontiguousarray(np.asarray(weights, dtype=np.float64))
    if w.shape != (1 << log2_features,):
        raise ValueError(
            f"classifier_score: weights shape {w.shape} != (2**{log2_features},)"
        )
    bc = docs.sparkSession.sparkContext.broadcast(w)
    score = linear_score_udf(bc, log2_features, bias, bigrams)
    out = docs
    if not docs.isStreaming:
        out = spread(out, "doc_id")
    return out.select("doc_id", score(F.col("text")).alias(score_col))


# encoding-damage signatures (escapes keep the source ASCII; the pattern
# strings hold literal characters, so Java regex and RE2 match them
# identically with no engine-specific escape syntax):
#   Ã ("A-tilde") + a Latin-1-supplement / cp1252-remap char — the
#     classic UTF-8-decoded-as-Latin-1 two-byte sequence ("Ã©"
#     where the text meant "é");
#   â€ — the cp1252 rendering of a mangled three-byte UTF-8
#     punctuation char (right quotes, dashes, ellipses);
#   � — the replacement character a lossy decode leaves behind.
_CP1252_REMAP = (
    "\u0080-\u00bf\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030"
    "\u0160\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"
)
MOJIBAKE_PAT = f"(\u00c3[{_CP1252_REMAP}])|(\u00e2\u20ac)|(\ufffd)"


def mojibake_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, n_mojibake, mojibake_frac): occurrences of
    encoding-damage signatures — U+FFFD replacement characters plus the
    classic UTF-8-read-as-Latin-1/cp1252 double-decode sequences — per
    document, and their fraction of the text length. The third standard
    cleaning signal next to :func:`quality_filter` (surface rules) and
    the LM perplexity score (likelihood): a high fraction means the
    document was mangled UPSTREAM, and no downstream filter repairs it —
    drop or re-fetch. Count = split-boundary count (pure codegen, no
    UDF), one narrow pass, streaming-safe; empty/NULL text scores 0.
    False positives are possible but bounded honestly: real French text
    containing "Ã© " as words is vanishingly rare because the
    signature requires the remap char DIRECTLY after A-tilde."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_hits = F.size(F.split(t, MOJIBAKE_PAT)) - 1
    return docs.select(
        "doc_id",
        n_hits.cast("long").alias("n_mojibake"),
        F.when(F.length(t) == 0, F.lit(0.0))
        .otherwise(F.round(n_hits / F.length(t), 6) + F.lit(0.0))
        .alias("mojibake_frac"),
    )


def corpus_report(docs: DataFrame) -> dict:
    """One-pass corpus health report — the summary a curator reads
    before and after every pipeline stage: document/token totals, text
    length distribution, language mix, exact-duplicate rate, and
    encoding damage, as one plain dict.

    Cost discipline: ONE full scan computing a single multi-aggregate
    (tokens, lengths, mojibake — all codegen), plus one hash aggregate
    each for the language mix (bounded by #languages) and the
    content-hash distinct count (the only shuffle that grows with the
    corpus, the same one exact dedup pays). Runs eagerly; returns
    driver-side scalars only. At 100 TB every number here is a
    map-side-combined aggregate — nothing collects per-document rows.
    ``median_chars`` is percentile_approx ON PURPOSE: the exact
    percentile materialises every value in one aggregation buffer,
    which does not survive a 100 TB corpus; the sketch does.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    toks = tokens_col(t)  # NULL text counts as empty, not as NULL-sized
    moji = F.size(F.split(t, MOJIBAKE_PAT)) - 1
    row = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
        F.sum(F.length(t)).alias("n_chars"),
        F.min(F.length(t)).alias("min_chars"),
        F.expr("percentile_approx(length(coalesce(text, '')), 0.5)").alias(
            "median_chars"
        ),
        F.max(F.length(t)).alias("max_chars"),
        F.sum((F.size(toks) == 0).cast("long")).alias("n_empty"),
        F.sum((moji > 0).cast("long")).alias("n_mojibake_docs"),
    ).collect()[0]
    langs = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    } if "lang" in docs.columns else {}
    n_distinct = (
        docs.select(F.md5(t).alias("h")).agg(F.countDistinct("h")).collect()[0][0]
    )
    n_docs = int(row.n_docs)
    return {
        "n_docs": n_docs,
        "n_tokens": int(row.n_tokens or 0),
        "n_chars": int(row.n_chars or 0),
        "chars_min_median_max": [
            int(row.min_chars or 0),
            int(row.median_chars or 0),
            int(row.max_chars or 0),
        ],
        "n_empty_docs": int(row.n_empty or 0),
        "n_mojibake_docs": int(row.n_mojibake_docs or 0),
        "languages": langs,
        "n_distinct_texts": int(n_distinct),
        "exact_dup_rate": (
            round(1.0 - n_distinct / n_docs, 6) if n_docs else 0.0
        ),
    }


def train_classifier(
    docs: DataFrame,
    label_col: str = "label",
    log2_features: int = 18,
    bigrams: bool = True,
    n_iters: int = 10,
    lr: float = 0.5,
    l2: float = 1e-6,
):
    """Distributed training for the :func:`classifier_score` serving
    model — full-batch logistic regression on mean-pooled hashed
    unigram+bigram features (the fasttext shape), so the quality
    classifier can be TRAINED on a labelled corpus at any scale instead
    of shipping weights from elsewhere. Returns ``(weights, bias)``
    ready for ``classifier_score(docs, weights=w, bias=b)``.

    Per iteration: the current weights broadcast once per executor; an
    Arrow pass computes each doc's residual ``sigmoid(z) - y`` and emits
    (feature, residual * multiplicity / n_features_doc) contributions
    (bias rides along as feature -1); one map-side-combined hash
    aggregate reduces them to at most ``2**log2_features + 1`` rows,
    which is ALL the driver ever receives — the corpus itself never
    moves. Deterministic by the engine's trainer discipline (kmeans/PQ):
    no sampling, fixed iterations, weights rounded at 6 decimals per
    update so float sum-order across partitions cannot leak into the
    model (repartition-invariance is test-pinned). Docs with no tokens
    are skipped (they would contribute nothing).
    """
    import numpy as np
    import pandas as pd

    if n_iters < 1 or not 0 < lr:
        raise ValueError(
            f"train_classifier: need n_iters >= 1 and lr > 0 "
            f"(got {n_iters}, {lr})"
        )
    n_feat = 1 << log2_features
    spark = docs.sparkSession
    from pyspark.storagelevel import StorageLevel

    # spread on text, not the label: hashing by a binary label would land
    # the whole corpus in two partitions. Persist: every iteration reads
    # the SAME relation — without the persist each gradient pass would
    # re-shuffle the corpus.
    base = spread(docs.select(F.col(label_col).alias("y"), "text"), "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_docs = base.count()
    if n_docs == 0:
        base.unpersist()
        raise ValueError("train_classifier: empty corpus")
    w = np.zeros(n_feat, dtype=np.float64)
    bias = 0.0
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast((w, bias))

        def grad(batches):
            from ccm_spark.functions.hashing import py_hashed_features, py_tokens

            bw, bb = bc.value
            for pdf in batches:
                feats, gs = [], []
                for y, t in zip(pdf["y"], pdf["text"]):
                    toks = py_tokens(t)
                    if not toks:
                        continue
                    idx = py_hashed_features(toks, log2_features, bigrams)
                    z = float(bw[idx].mean()) + bb
                    r = 1.0 / (1.0 + np.exp(-z)) - float(y)
                    uniq, counts = np.unique(idx, return_counts=True)
                    feats.extend(int(u) for u in uniq)
                    gs.extend(float(r * c / len(idx)) for c in counts)
                    feats.append(-1)
                    gs.append(float(r))
                yield pd.DataFrame({"feature": pd.Series(feats, dtype="int64"),
                                    "g": pd.Series(gs, dtype="float64")})

        rows = (
            base.mapInPandas(grad, "feature long, g double")
            .groupBy("feature")
            .agg(F.sum("g").alias("g"))
            .collect()
        )
        bc.destroy()
        gvec = np.zeros(n_feat, dtype=np.float64)
        gb = 0.0
        for r in rows:
            if r.feature == -1:
                gb = r.g
            else:
                gvec[r.feature] = r.g
        w = np.round(w - lr * (gvec / n_docs + l2 * w), 6)
        bias = round(bias - lr * gb / n_docs, 6)
    base.unpersist()
    return w, bias


def classifier_metrics(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "model_score",
    threshold: float = 0.5,
    score_decimals: int = 6,
) -> dict:
    """Evaluation for a scored, labelled corpus: AUC, accuracy,
    precision, recall, and the confusion counts — the numbers read
    before trusting a trained :func:`classifier_score` model on real
    filtering.

    Scale shape (the corpus_report discipline): ONE hash aggregate over
    (rounded score, label) gives a histogram bounded by the score
    resolution (10^score_decimals cells worst-case, thousands in
    practice), and AUC is computed EXACTLY on that histogram driver-side
    via the rank-sum (Mann-Whitney) identity with the standard half
    credit for ties — no global sort, no per-row window, deterministic.
    Serving already rounds scores at 6, so score_decimals=6 loses
    nothing. NULL-scored docs (token-less) are excluded and counted."""
    agg = (
        scored.select(
            F.round(F.col(score_col), score_decimals).alias("s"),
            F.col(label_col).cast("int").alias("y"),
        )
        .groupBy("s", "y")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_null = 0
    n_unlabelled = 0
    hist: dict[float, list[int]] = {}
    for r in agg:
        if r.s is None:
            n_null += r.n
            continue
        if r.y is None:
            # e.g. a left join that found no label — excluded + counted,
            # like unscored docs, never a crash
            n_unlabelled += r.n
            continue
        if r.y not in (0, 1):
            # -1/+1 encodings would silently land in the wrong slot via
            # negative indexing; demand an explicit remap instead
            raise ValueError(
                f"classifier_metrics: labels must be 0/1, got {r.y} — "
                "remap (e.g. (label + 1) / 2 for -1/+1 encodings) first"
            )
        hist.setdefault(float(r.s), [0, 0])[r.y] = r.n
    n_neg = sum(v[0] for v in hist.values())
    n_pos = sum(v[1] for v in hist.values())
    # rank-sum AUC over the ascending-score histogram: each positive at
    # score s wins against negatives below s and half-ties negatives at s
    wins = 0.0
    neg_below = 0
    for s in sorted(hist):
        neg_s, pos_s = hist[s]
        wins += pos_s * (neg_below + 0.5 * neg_s)
        neg_below += neg_s
    auc = wins / (n_pos * n_neg) if n_pos and n_neg else float("nan")
    tp = sum(v[1] for s, v in hist.items() if s >= threshold)
    fp = sum(v[0] for s, v in hist.items() if s >= threshold)
    fn = n_pos - tp
    tn = n_neg - fp
    total = n_pos + n_neg
    return {
        "n_scored": total,
        "n_unscored": n_null,
        "n_unlabelled": n_unlabelled,
        "n_pos": n_pos,
        "n_neg": n_neg,
        "auc": round(auc, 6) if auc == auc else auc,
        "accuracy": round((tp + tn) / total, 6) if total else float("nan"),
        "precision": round(tp / (tp + fp), 6) if tp + fp else float("nan"),
        "recall": round(tp / n_pos, 6) if n_pos else float("nan"),
        "confusion": {"tp": tp, "fp": fp, "fn": fn, "tn": tn},
    }


# ------------------------------------------- unicode normalisation (r07)

#: engine-portable cleanups (pure regex — the DuckDB twin replays them):
#: C0/C1 controls except \t\n, zero-width + BOM characters, then the
#: typographic quote/dash folds that split token identities
#: NOTE \x{...} escapes, not \uXXXX: Java regex accepts both but RE2
#: (the DuckDB replay engine) only the former — portability by syntax
_UNICODE_CLEANUP = [
    ("[\\x00-\\x08\\x0e-\\x1f\\x7f-\\x9f\\x0b\\x0c]", ""),
    ("[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{AD}]", ""),
    ("[\\x{2018}-\\x{201B}]", "'"),
    ("[\\x{201C}-\\x{201F}]", '"'),
    ("[\\x{2010}-\\x{2015}\\x{2212}]", "-"),
    ("[\\x{A0}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]", " "),
]


def clean_text_col(col) -> F.Column:
    """The regex half of normalisation as one codegen expression chain
    (controls, zero-width, quote/dash/space folds) — streaming-safe, no
    UDF, engine-portable (no lookaround), pinned against a DuckDB
    replay. NULL in → NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in _UNICODE_CLEANUP:
        c = F.regexp_replace(c, pat, repl)
    return c


def normalize_unicode(
    docs: DataFrame, form: str = "NFKC", text_col: str = "text"
) -> DataFrame:
    """Canonical unicode for the whole corpus — the stage real pipelines
    run BEFORE tokenisation and dedup, because without it visually
    identical strings hash apart: composed vs decomposed accents (NFC),
    fullwidth/compatibility forms (NFKC), smart quotes, zero-width
    joiners. Two halves:

      1. codegen regex cleanup (:func:`clean_text_col`) — controls,
         zero-width characters, quote/dash/space folding;
      2. ``unicodedata.normalize(form, ...)`` as one narrow Arrow pass
         (composition tables are not expressible as regex; this is the
         one honest UDF, and it is vectorised per batch).

    Both halves are idempotent, so re-running over an already-clean
    corpus is a no-op (test-pinned). Adds ``text_norm`` + ``changed``;
    plan is scan → projection → kernel, no shuffle, streaming-safe."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_unicode: unknown form {form!r}")
    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    cleaned = clean_text_col(text_col)
    out = docs.withColumn("text_norm", _norm(cleaned))
    return out.withColumn(
        "changed", ~F.col("text_norm").eqNullSafe(F.col(text_col))
    )


# --------------------------------------------- script detection (r07)

#: Unicode scripts profiled — the writing systems a multilingual crawl
#: actually routes on; alphabetical so the dominant-script tie-break is
#: deterministic. Spark spells the class \p{IsX} (Java regex), the
#: DuckDB replay \p{X} (RE2) — both count code points identically
#: (pinned in tests/test_corpus_quality.py).
SCRIPTS = (
    "Arabic",
    "Cyrillic",
    "Devanagari",
    "Greek",
    "Han",
    "Hangul",
    "Hebrew",
    "Hiragana",
    "Katakana",
    "Latin",
    "Thai",
)


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-document writing-system profile: one count column per script
    in :data:`SCRIPTS`, total letter count, and ``dominant_script``
    (argmax by count, ties alphabetical; no letters at all -> 'und';
    letters but NONE in a profiled script -> 'other', so a Bengali or
    Georgian document is never conflated with an all-digits one).

    The routing complement to :func:`language_id` — the stopword
    profiler only separates LATIN-alphabet languages; a multilingual
    crawl first routes on script (Cyrillic != Greek != Han is a
    code-point property, not a vocabulary one), then runs per-script
    language ID where needed. Pure codegen (one regexp_count per
    script, no UDFs, no shuffle) so it runs unchanged on a STREAMING
    ingest; same argmax-over-structs fold as language_id."""
    counts = {
        s: F.coalesce(
            F.regexp_count("text", F.lit(f"\\p{{Is{s}}}")), F.lit(0)
        ).alias(f"{s.lower()}_chars")
        for s in SCRIPTS
    }
    letters = F.coalesce(F.regexp_count("text", F.lit("\\p{L}")), F.lit(0))
    scored = docs.select("doc_id", *counts.values(), letters.alias("n_letters"))
    best = F.aggregate(
        F.array(
            *[
                F.struct(
                    F.col(f"{s.lower()}_chars").alias("hits"),
                    F.lit(s.lower()).alias("name"),
                )
                for s in SCRIPTS
            ]
        ),
        F.struct(F.lit(0).alias("hits"), F.lit("und").alias("name")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return scored.select(
        "doc_id",
        *[f"{s.lower()}_chars" for s in SCRIPTS],
        "n_letters",
        F.when(
            (best["hits"] == 0) & (F.col("n_letters") > 0), F.lit("other")
        )
        .otherwise(best["name"])
        .alias("dominant_script"),
    )


def collocations_pmi(docs: DataFrame, min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual information
    — the corpus-analysis pass that surfaces multiword units ("new york",
    "machine learning") for tokenizer seeding and blocklist authoring.

    PMI(x, y) = log2( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c_xy / M over
    adjacent bigrams and p(x) = c_x / N over unigrams. ``min_count``
    prunes the noise floor (rare pairs have unstable PMI) BEFORE the
    unigram joins, so the scored relation is tiny.

    Plan shape: bigrams come from slice+arrays_zip (native codegen; the
    pair array is transient inside one projection — never carried
    through a shuffle); the two count relations are map-side combined
    and materialised ONCE (localCheckpoint — totals plus two unigram
    joins would otherwise replay the explode); N and M arrive as
    broadcast 1-row cross joins (never collected); the final top-k is
    the two-phase local/global window (vocab_topk's pattern). Returns
    ``(rank, bigram, c_xy, pmi)`` with pmi rounded at the boundary.
    """
    docs = spread(docs, "doc_id")
    toks = tokens_col("text")
    two_plus = docs.where(F.size(toks) >= 2).select(toks.alias("_toks"))
    # arrays_zip, not zip_with(lambda): native expression, stays inside
    # codegen (higher-order-function lambdas are interpreted)
    pairs = two_plus.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("x"), F.col("p.1").alias("y"))
    # materialise the two vocab-sized aggregates ONCE (the semantic_dedup
    # localCheckpoint precedent): the totals and the two unigram joins
    # would otherwise each replay the whole explode — 5 corpus passes
    big = (
        pairs.groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint(eager=True)
    )
    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot_u = uni.agg(F.sum("c").cast("double").alias("n_tok"))
    tot_b = big.agg(F.sum("c_xy").cast("double").alias("n_big"))
    scored = (
        big.where(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y")), "y")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "x",
            "y",
            "c_xy",
            F.log2(
                (F.col("c_xy") / F.col("n_big"))
                / ((F.col("c_x") / F.col("n_tok")) * (F.col("c_y") / F.col("n_tok")))
            ).alias("pmi_raw"),
        )
    )
    order = [F.col("pmi_raw").desc(), F.col("x").asc(), F.col("y").asc()]
    local_w = Window.partitionBy("split_id").orderBy(*order)
    survivors = (
        scored.withColumn("split_id", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(local_w))
        .where(F.col("lr") <= k)
    )
    w = Window.orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "rank",
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "c_xy",
            (F.round("pmi_raw", 6) + F.lit(0.0)).alias("pmi"),
        )
    )


def tfidf_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-doc top-k TF-IDF keywords — the summary/labeling pass of a
    corpus audit (what is this document about, without a model).

    Smoothed idf = ln((1+D)/(1+df)) + 1 (the scikit-learn convention);
    score = tf · idf; ties broken by term asc. The window runs over the
    per-(doc, term) aggregate (one row per distinct term per doc, never
    per occurrence), D arrives as a broadcast 1-row cross join, and the
    df relation joins on term — skew-free because stopword-heavy terms
    are spread across doc partitions before the per-doc window.
    Returns ``(doc_id, rank, term, tf, score)``.

    The per-(doc, term) tf aggregate feeds both the df rollup and the
    scoring join, so it is persisted (MEMORY_AND_DISK, distinct terms per
    doc) and attached to the result as ``_ccm_persisted`` — call
    ``plans.cross_map.release_cached(result)`` after the terminal action
    in long-lived sessions.
    """
    from pyspark.storagelevel import StorageLevel

    occ = spread(docs, "doc_id").select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )
    # r16 (VERDICT r15 #5, the dsir recipe): tf feeds BOTH the df rollup
    # and the scoring join — unpersisted, the corpus explode + per-doc
    # aggregate ran twice (two physical subtrees, plans/r16/
    # tfidf_terms_before.txt). Persist the (doc, term)-aggregated
    # relation once; it is distinct-term-per-doc sized, far below the
    # occurrence relation.
    tf = (
        occ.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                )
            ).alias("score_raw"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_raw").desc(), F.col("term").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            (F.round("score_raw", 6) + F.lit(0.0)).alias("score"),
        )
    )
    out._ccm_persisted = [tf]
    return out


#: lookaround-free sentence pattern — a run of non-terminators followed
#: by a terminator run (or end-of-text for the tail). Java regex (Spark)
#: and RE2 (DuckDB) produce identical match lists: no lookbehind (RE2
#: has none), leftmost-greedy in both. Abbreviations split ("Dr." ends a
#: sentence) — the documented naive-rule tradeoff; a corpus needing
#: abbreviation awareness runs a model splitter downstream.
SENTENCE_RE = "[^.!?]+(?:[.!?]+|$)"

#: deterministic sentence-break injection for punctuation-free corpora
#: (the synthetic documents table; the PII-injection precedent): a
#: period after every 7th token. Lookaround-free — Java regex == RE2 on
#: this pattern; Spark replacement syntax uses $1, DuckDB \\1 + 'g'.
SENT_INJECT_RE = r"((?:\S+\s+){6}\S+)\s+"


def split_sentences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Naive-rule sentence segmentation: one row per sentence,
    ``(doc_id, sent_idx, sentence, n_chars)`` — the unit every
    sentence-level consumer (quality scoring per sentence,
    sentence-boundary chunking, parallel-corpus alignment) needs below
    the document level.

    ``sent_idx`` is the ORIGINAL match position (whitespace-only
    matches are dropped AFTER indexing, so indices are stable across
    engines but may have gaps); ``sentence`` is space-trimmed. A text
    with no non-terminator characters yields no rows. One narrow
    projection + generate — map-only at any scale, the chunking
    family's plan shape.
    """
    sents = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            F.posexplode(
                F.regexp_extract_all(text_col, F.lit(SENTENCE_RE), 0)
            ).alias("sent_idx", "_raw"),
        )
        .select(
            "doc_id",
            F.col("sent_idx").cast("int").alias("sent_idx"),
            F.trim(F.col("_raw")).alias("sentence"),
        )
        .where(F.col("sentence") != "")
    )
    return sents.withColumn("n_chars", F.length("sentence").cast("int"))
