"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Every operator is a pure projection (zero shuffle) of built-in string/array
expressions — the ideal 100 TB shape: map-only, codegen, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparsity_spark.operators.dedup import words_expr

# tiny fixed stopword list — deterministic, engine-portable
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# marker-word tables for the n-gram/lexicon language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht"],
    "en": ["the", "a", "and", "of", "is"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "que"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, regex word tokens (a BPE-ish
    `[a-z0-9]+` segmentation), distinct count, type-token ratio, average
    token length. One map-only projection."""
    w = words_expr(text_col)
    re_toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    return docs.select(
        F.col(id_col),
        F.size(w).alias("ws_tokens"),
        F.size(re_toks).alias("re_tokens"),
        F.size(F.array_distinct(w)).alias("distinct_tokens"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 6).alias("type_token_ratio"),
        F.round(
            F.aggregate(
                F.transform(w, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(w),
            6,
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality scoring: length, alpha ratio, stopword ratio, and a composite
    score — the C4/Gopher-style cheap filters, as one projection.

    Exactness (r10 — the sf0.1 strict sweep caught the old float finish):
    the composite ``min(n/100,1)·(0.5+0.5·alpha)`` is a product of SHORT
    decimals, so its exact value can land EXACTLY on a round-6 tie
    (…×5·10⁻⁷), where Spark's BigDecimal HALF_UP and DuckDB's float
    ROUND split (0.444062 vs 0.444063 at sf0.1). Every ratio is
    therefore integer-exact half-up in micro units —
    ``(2·num·10⁶ + den) div (2·den)`` — and the composite is
    ``(min(n,100)·(10⁶+alpha_micro) + 100) div 200``: pure BIGINT
    arithmetic, no engine ever rounds a double; the emitted doubles are
    the identical quotient micro/10⁶ on both sides."""
    w = words_expr(text_col)
    n = F.size(w).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t))).cast("long")
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", "")).cast("long")
    total_chars = F.length(F.col(text_col)).cast("long")
    unit = 1_000_000
    base = docs.select(
        F.col(id_col),
        n.alias("__n__"),
        stop_cnt.alias("__sc__"),
        alpha_chars.alias("__ac__"),
        total_chars.alias("__tc__"),
    )
    # integer half-up micro ratios; zero denominators yield NULL (the old
    # float 0/0 behavior)
    a_micro = f"(2 * __ac__ * {unit} + __tc__) div (2 * __tc__)"
    return base.select(
        F.col(id_col),
        F.col("__n__").cast("int").alias("n_tokens"),
        F.col("__tc__").cast("int").alias("n_chars"),
        F.expr(
            f"case when __n__ > 0 then cast((2 * __sc__ * {unit} + __n__)"
            f" div (2 * __n__) as double) / {unit} end"
        ).alias("stopword_ratio"),
        F.expr(
            f"case when __tc__ > 0 then cast({a_micro} as double) / {unit} end"
        ).alias("alpha_ratio"),
        F.expr(
            f"case when __tc__ > 0 then cast((least(__n__, 100)"
            f" * ({unit} + {a_micro}) + 100) div 200 as double) / {unit} end"
        ).alias("quality"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Lexicon language-ID heuristic: score each language by marker-word
    hits over whitespace tokens; winner by (score desc, lang asc), 'und'
    when every score is zero. Pure expression — at scale this is exactly
    a map-only pass."""
    w = words_expr(text_col)
    scores = [
        F.size(
            F.filter(w, lambda t: F.array_contains(F.array(*[F.lit(m) for m in ms]), t))
        ).alias(f"score_{lang}")
        for lang, ms in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select(F.col(id_col), *scores)
    langs = sorted(LANG_MARKERS)
    max_score = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(max_score == 0, F.lit("und"))
    for lang in langs:  # chained whens: ties go to the alphabetically first
        pred = pred.when(F.col(f"score_{lang}") == max_score, F.lit(lang))
    return scored.select(
        F.col(id_col), pred.alias("pred_lang"), max_score.cast("int").alias("marker_hits")
    )


def _tfidf_cells(docs: DataFrame, id_col: str, text_col: str, min_df: int):
    """The shared TF-IDF cell builder (r9 refactor): long (doc, term,
    tf·idf) cells WITHOUT the column-dictionary collect that only the
    SparseFrame facade needs. Returns (cells, tf, df_counts) — tf and
    df_counts come back PERSISTED (tf feeds both the df table and the
    cells; df_counts feeds idf and, in tfidf_frame, the vocabulary
    collect); callers that materialize the cells should unpersist both
    (top_keywords does; tfidf_frame's handles live as long as its frame)."""
    from sparsity_spark.frame import COL, VAL
    from sparsity_spark.util import ensure_parallelism

    # tokenize map at the scan's split count otherwise (3 for a sub-MB
    # single file — r11; the guard no-ops on many-file cluster scans)
    docs = ensure_parallelism(docs)
    toks = docs.select(
        F.col(id_col), F.explode(words_expr(text_col)).alias(COL)
    )
    tf = toks.groupBy(id_col, COL).agg(F.count("*").alias("tf")).persist()
    n_docs = docs.count()
    df_counts = (
        tf.groupBy(COL).agg(F.count("*").alias("df")).filter(F.col("df") >= min_df).persist()
    )
    idf = df_counts.withColumn(
        "idf", F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    )
    cells = (
        tf.join(F.broadcast(idf.select(COL, "idf")), on=COL)
        .select(
            F.col(id_col),
            F.col(COL),
            F.round(F.col("tf") * F.col("idf"), 6).alias(VAL),
        )
    )
    return cells, tf, df_counts


def tfidf_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_vocab: int = 1_000_000,
):
    """TF-IDF document-term matrix AS a SparseFrame — the document-term
    matrix is exactly the engine's native long/COO layout: one row per
    (doc, term) with value tf·idf.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    scikit-style). Two hash aggregates + one broadcast-ready join; the
    vocabulary (ordered by term) becomes the frame's column dictionary.

    Scale note: the vocabulary is collected driver-side (it is the frame's
    column dictionary, like the reference's 37k-column Index). For an
    open-ended 100 TB vocabulary, raise ``min_df`` to bound it, or consume
    the long ``cells`` DataFrame directly and skip the column dictionary.
    ``max_vocab`` turns that advice into a hard guard (VERDICT r3 "What's
    wrong" #1): the collect is limit-bounded and raises with guidance
    instead of OOMing the driver on an unbounded vocabulary."""
    from sparsity_spark.frame import COL, VAL, SparseFrame
    from sparsity_spark.util import ensure_parallelism

    docs = ensure_parallelism(docs)
    cells, tf, df_counts = _tfidf_cells(docs, id_col, text_col, min_df)
    vrows = df_counts.select(COL).orderBy(COL).limit(max_vocab + 1).collect()
    if len(vrows) > max_vocab:
        raise ValueError(
            f"tfidf vocabulary exceeds max_vocab={max_vocab} — raise min_df "
            f"to bound the dictionary, pass a larger max_vocab explicitly, "
            f"or consume the long cells DataFrame without a column dictionary"
        )
    vocab = [r[COL] for r in vrows]
    index = docs.select(id_col)
    return SparseFrame(cells, [id_col], vocab, index)


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprinting: full-content md5, a bag fingerprint (md5 of
    the sorted distinct token set — order-insensitive near-identity), and a
    head/tail rolling fingerprint (md5 of first+last 64 chars)."""
    w = words_expr(text_col)
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.md5(t).alias("content_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(w)), " ")).alias("bag_md5"),
        F.md5(F.concat(F.substring(t, 1, 64), F.substring(t, -64, 64))).alias("edge_md5"),
        F.length(t).alias("n_chars"),
    )


def heavy_hitters(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 20
) -> DataFrame:
    """Top-k tokens by document frequency (exact). Distinct-per-doc explode
    then one hash aggregate; the global top-k is a TakeOrdered over ~|vocab|
    aggregated rows, not the corpus. Ties break on token for determinism."""
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(words_expr(text_col))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(k)
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Within-document repetition filters (Gopher-style): duplicate-token
    ratio, duplicate-2-gram ratio, and the fraction taken by the single most
    frequent token. Pure expressions — map-only at any corpus size (the
    top-token scan is O(distinct·n) per doc, bounded by document length,
    never by corpus size)."""
    w = words_expr(text_col)
    n = F.size(w)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(w), lambda t: F.size(F.filter(w, lambda x: x == t))
        )
    )
    return docs.select(
        F.col(id_col),
        F.round(F.lit(1.0) - F.size(F.array_distinct(w)) / n, 6).alias("dup_token_ratio"),
        F.round(
            F.when(n >= 2, F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_2gram_ratio"),
        F.round(top_cnt / n, 6).alias("top_token_frac"),
    )


def boilerplate_fraction(
    docs: DataFrame,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """CROSS-document boilerplate share — the corpus-level complement of
    `repetition_stats` (which only sees inside one doc): for each doc,
    the fraction of its DISTINCT word k-grams that are corpus-common
    (document frequency >= min_df). A page that is mostly navigation
    chrome, cookie banners, and license headers scores high even though
    no single n-gram repeats WITHIN it — exactly the docs the within-doc
    filters miss and a near-dup pass only half-catches (shared chrome
    rarely clears a whole-doc similarity threshold).

    Shape: one explode of the per-doc distinct-gram projection, ONE
    partial+final hash aggregate for gram document frequency, a
    gram-keyed join back (AQE's skew-join split handles the "terms of
    service" gram that appears in a billion docs), then a per-doc
    aggregate. The fraction is round-half-up integer micros —
    ``(2·n_common·10⁶ + n_grams) div (2·n_grams)`` — so no engine ever
    rounds a double; docs with fewer than k words have zero grams and
    a NULL fraction.

    Returns (id_col, n_grams, n_common, boilerplate)."""
    from sparsity_spark.operators.dedup import gram_set_expr

    unit = 1_000_000
    # one corpus pass (r11, guide §1.2): the exploded gram table feeds
    # BOTH the df aggregate and the join probe — without the lazy
    # checkpoint the scan+shingle+explode subtree executed twice (the
    # jaccard_prefix_join lesson; lazy so the two consumers still
    # overlap in one job). ensure_parallelism: the shingle map otherwise
    # runs at the scan's split count (3 for a sub-MB file — r11)
    from sparsity_spark.util import ensure_parallelism

    docs = ensure_parallelism(docs)
    grams = docs.select(
        F.col(id_col),
        F.explode(gram_set_expr(text_col, k)).alias("gram"),
    ).localCheckpoint(eager=False)
    dft = grams.groupBy("gram").agg(F.count("*").cast("long").alias("__df__"))
    per = (
        grams.join(dft, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("__df__") >= min_df).cast("long")).cast("long").alias(
                "n_common"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
        )
        .withColumn(
            "boilerplate",
            F.expr(
                f"case when n_grams > 0 then cast((2 * n_common * {unit} + n_grams)"
                f" div (2 * n_grams) as double) / {unit} end"
            ),
        )
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB/Go): character classes and bounded repetition only — no
# lookarounds, no backreferences, no \b (RE2 supports \b but keeping to the
# portable core makes the oracle trustworthy).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,4}[- ]?[0-9]{0,4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII scrubbing for corpus curation: replace every match of each
    pattern with ``<KIND>`` and report per-kind match counts. The standard
    pre-training privacy pass (emails, phone numbers, SSNs, IPs).

    Scale shape: a single map-only projection — each pattern is one
    ``regexp_count`` + one ``regexp_replace``, all JVM-side inside one
    whole-stage-codegen span. No shuffle, no UDF; at 100 TB the cost is one
    streaming pass over the text bytes. Counts are computed BEFORE any
    replacement so overlapping pattern families (an IPv4 inside a URL, a
    phone inside an address) each report against the original text.

    The reference has no text layer at all (SURVEY §2.8: no scalar string
    functions); this extends the curation suite (quality_score, lang_id).
    """
    pats = patterns or PII_PATTERNS
    counts = [
        F.regexp_count(F.col(text_col), F.lit(p)).alias(f"n_{k}") for k, p in pats.items()
    ]
    redacted = F.col(text_col)
    for k, p in pats.items():
        redacted = F.regexp_replace(redacted, p, f"<{k.upper()}>")
    return docs.select(
        F.col(id_col), *counts, redacted.alias("redacted_text")
    )


def model_quality_score(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linear-model quality filter inference — the fastText/classifier
    scoring stage of a curation pipeline, with the model as broadcast-able
    plan constants.

    Features are the cheap per-doc statistics (token count scaled,
    stopword ratio, alpha ratio, mean word length scaled); the score is
    sigmoid(w·x + b). Everything is one codegen projection: at 100 TB this
    is a map-only pass whose model cost is O(|weights|) literals in the
    plan — the shape any learned-filter inference should take (a real
    fastText model swaps in via the same seam as a Pandas-UDF batch
    scorer, but the plumbing and the filter semantics are exactly this).
    """
    weights = weights or {
        "tok": 1.2,
        "stop": 2.0,
        "alpha": 1.5,
        "wordlen": -0.8,
    }
    w = words_expr(text_col)
    n = F.size(w)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t))) / n
    alpha_ratio = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", "")) / F.length(
        F.col(text_col)
    )
    mean_wordlen = F.length(F.regexp_replace(F.col(text_col), " ", "")) / n
    z = (
        F.lit(float(bias))
        + F.lit(float(weights["tok"])) * F.least(n / F.lit(200.0), F.lit(1.0))
        + F.lit(float(weights["stop"])) * stop_ratio
        + F.lit(float(weights["alpha"])) * alpha_ratio
        + F.lit(float(weights["wordlen"])) * (mean_wordlen / F.lit(10.0))
    )
    return docs.select(
        F.col(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("model_quality"),
    )


def normalize_text_expr(text_col: str = "text"):
    """Canonical text-normalization expression for robust dedup: lowercase,
    strip everything except letters/digits/spaces, collapse whitespace
    runs, trim. Pure map-only regexp chain (JVM codegen, zero shuffle) and
    deliberately built from engine-portable pieces — `lower`,
    `regexp_replace` with character classes — so a SQL oracle applies the
    IDENTICAL canonicalization. Catches the dup mass exact-hash misses:
    case flips, punctuation drift, double spaces."""
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def normalized_exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on NORMALIZED text: one hash aggregate keyed by
    md5(normalize(text)) — same single-aggregate scale shape as
    `dedup.exact_dedup`, but 'Hello, World!' and 'hello world' now land in
    one group. Returns (norm_hash, n_docs, keep_id)."""
    return (
        docs.select(
            F.md5(normalize_text_expr(text_col)).alias("norm_hash"), F.col(id_col)
        )
        .groupBy("norm_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def word_bigram_lm(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_vocab_bigrams: int | None = 500_000,
) -> DataFrame:
    """Train a word-BIGRAM language model on a reference corpus — the model
    behind the CCNet/Gopher-style perplexity quality filter: documents are
    later scored by how probable their token sequences are under text
    known to be good.

    One pass: explode (prev, word) pairs with a leading <s> sentinel, ONE
    hash aggregate for bigram counts, a second for per-prev totals (the
    conditional's denominator), then the add-one-smoothed conditional
    log-prob per bigram. Both aggregates partial+final; the model table is
    (prev, word, logp) — vocabulary-sized, broadcastable to the scorer.
    ``max_vocab_bigrams`` is the loud-failure cardinality guard (the
    transpose/tfidf discipline): a reference corpus whose bigram table
    exceeds it is not a broadcastable model — sample the reference or
    raise the cap explicitly. The probe is one extra aggregate pass over
    the reference; pass ``None`` to skip it when the reference is already
    a vetted sample (the usual CCNet shape — the model trains on a
    Wikipedia-sized sample, not the corpus).

    Returns the model table (prev, word, logp: double round-6); bigrams
    unseen in the reference take the scorer's ``floor_logp``."""
    from sparsity_spark.operators.dedup import words_expr
    from sparsity_spark.util import ensure_parallelism

    ref = ensure_parallelism(reference)
    words = words_expr(text_col)
    pairs = ref.select(
        F.posexplode(
            F.zip_with(
                F.concat(F.array(F.lit("<s>")), F.slice(words, 1, F.size(words) - 1)),
                words,
                lambda p, w: F.struct(p.alias("prev"), w.alias("word")),
            )
        ).alias("__i__", "pw")
    ).select(F.col("pw.prev").alias("prev"), F.col("pw.word").alias("word"))
    counts = pairs.groupBy("prev", "word").agg(F.count("*").alias("c"))
    if max_vocab_bigrams is not None:
        probe = counts.limit(max_vocab_bigrams + 1).count()
        if probe > max_vocab_bigrams:
            raise ValueError(
                f"word_bigram_lm: reference yields more than {max_vocab_bigrams} "
                "distinct bigrams — not a broadcastable model. Sample the "
                "reference corpus or raise max_vocab_bigrams explicitly."
            )
    totals = counts.groupBy("prev").agg(
        F.sum("c").alias("t"), F.count("*").alias("v")
    )
    # add-one smoothing over the prev's OBSERVED continuations:
    # p(word|prev) = (c + 1) / (t + v)
    return counts.join(totals, on="prev").select(
        "prev",
        "word",
        F.round(F.log((F.col("c") + 1) / (F.col("t") + F.col("v"))), 6).alias("logp"),
    )


def lm_perplexity_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    floor_logp: float = -10.0,
) -> DataFrame:
    """Score documents by average word-bigram log-probability under a
    :func:`word_bigram_lm` model — the perplexity quality filter of
    CCNet/Gopher pipelines (low avg_logp ⇒ text unlike the reference ⇒
    drop or downweight).

    Scale shape: docs explode to (doc, prev, word) bigram rows (work ∝
    tokens), LEFT-join the BROADCAST model (vocabulary-sized by the
    trainer's cardinality guard), unseen bigrams take ``floor_logp``, and
    ONE hash aggregate averages per doc. No Python anywhere.

    Engine seam: the per-doc average sums EXACT INTEGER micro-log-probs
    (round(logp·1e6) as long) — a float sum's order-dependent ulp noise
    flipped round-6 boundaries between engines on ~0.25% of docs at the
    sf0.1 tri-scale check; integer sums are order-free, and one final
    division + round is bit-identical everywhere.

    Returns (id_col, n_bigrams, avg_logp round-6)."""
    from sparsity_spark.operators.dedup import words_expr
    from sparsity_spark.util import ensure_parallelism

    docs = ensure_parallelism(docs)
    words = words_expr(text_col)
    pairs = docs.select(
        F.col(id_col),
        F.posexplode(
            F.zip_with(
                F.concat(F.array(F.lit("<s>")), F.slice(words, 1, F.size(words) - 1)),
                words,
                lambda p, w: F.struct(p.alias("prev"), w.alias("word")),
            )
        ).alias("__i__", "pw"),
    ).select(id_col, F.col("pw.prev").alias("prev"), F.col("pw.word").alias("word"))
    scored = pairs.join(F.broadcast(model), on=["prev", "word"], how="left")
    lp6 = F.round(
        F.coalesce(F.col("logp"), F.lit(float(floor_logp))) * 1e6
    ).cast("long")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum(lp6) / (F.count("*") * F.lit(1000000.0)), 6).alias("avg_logp"),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int | None = None,
) -> DataFrame:
    """BM25 relevance ranking of the corpus against a term set — the
    data-selection primitive ("rank the crawl against a target-domain
    description") behind DSIR-style importance selection and targeted
    subset mining.

    Okapi BM25 with Lucene's non-negative idf:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)).

    Scale shape: tokens are filtered to the (tiny, literal) query term set
    BEFORE any aggregation, so the only shuffled rows are query-term hits
    — work ∝ matches, not corpus tokens; doc length rides along via one
    per-doc size() projection; N/avgdl are one scalar aggregate; df per
    term one aggregate over the hits. Everything rounds to 6 for engine
    portability. ``top_n`` ranks with a global TakeOrdered (per-partition
    heaps); omit it for the full scored set.

    Returns (id_col, score) — docs with no query-term hits are absent."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from sparsity_spark.util import ensure_parallelism

    docs = ensure_parallelism(docs)
    w = words_expr(text_col)
    qset = F.array(*[F.lit(t) for t in sorted(set(query_terms))])
    base = docs.select(
        F.col(id_col),
        F.size(w).alias("__dl__"),
        F.filter(w, lambda t: F.array_contains(qset, t)).alias("__hits__"),
    )
    stats = base.agg(
        F.count("*").alias("n"), F.avg("__dl__").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0:
        return base.select(id_col, F.lit(0.0).alias("score")).limit(0)
    tf = (
        base.select(id_col, "__dl__", F.explode("__hits__").alias("term"))
        .groupBy(id_col, "__dl__", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(dfreq.select("term", idf.alias("__idf__"))), on="term")
        .withColumn(
            "__s__",
            F.col("__idf__")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1.0 - b + F.lit(b) * F.col("__dl__") / F.lit(avgdl))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s__"), 6).alias("score"))
    )
    if top_n is not None:
        scored = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_n)
    return scored


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    floor_logp: float = -10.0,
    max_vocab_bigrams: int | None = 500_000,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every RAW document by how much more likely its text is under a
    TARGET-domain n-gram model than under the raw corpus's own model —
    importance = avg_logp_target − avg_logp_raw. Feed the output to
    :func:`pipeline.weighted_sample` (deterministic A-Res) with
    ``exp(importance)``-derived weights to materialize the selected
    subset, exactly the paper's hashed-ngram recipe with the engine's
    word-bigram features.

    Scale shape: two :func:`word_bigram_lm` trainings (two aggregates
    each, cardinality-guarded/broadcastable), then ONE pass over the raw
    corpus scoring both models — the bigram explode happens once and
    joins both broadcast models, one final per-doc aggregate.

    Returns (id_col, n_bigrams, logp_target, logp_raw, importance),
    round-6."""
    from sparsity_spark.operators.dedup import words_expr
    from sparsity_spark.util import ensure_parallelism

    target_model = word_bigram_lm(target, id_col, text_col, max_vocab_bigrams)
    raw_model = word_bigram_lm(raw, id_col, text_col, max_vocab_bigrams)
    docs = ensure_parallelism(raw)
    words = words_expr(text_col)
    pairs = docs.select(
        F.col(id_col),
        F.posexplode(
            F.zip_with(
                F.concat(F.array(F.lit("<s>")), F.slice(words, 1, F.size(words) - 1)),
                words,
                lambda p, w: F.struct(p.alias("prev"), w.alias("word")),
            )
        ).alias("__i__", "pw"),
    ).select(id_col, F.col("pw.prev").alias("prev"), F.col("pw.word").alias("word"))
    t = F.broadcast(target_model.withColumnRenamed("logp", "__lt__"))
    r = F.broadcast(raw_model.withColumnRenamed("logp", "__lr__"))
    scored = pairs.join(t, on=["prev", "word"], how="left").join(
        r, on=["prev", "word"], how="left"
    )
    fl = F.lit(float(floor_logp))
    # integer micro-log-prob sums — order-free, engine-exact (see
    # lm_perplexity_score's seam note)
    lt6 = F.round(F.coalesce(F.col("__lt__"), fl) * 1e6).cast("long")
    lr6 = F.round(F.coalesce(F.col("__lr__"), fl) * 1e6).cast("long")
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum(lt6) / (F.count("*") * F.lit(1000000.0)), 6).alias("logp_target"),
        F.round(F.sum(lr6) / (F.count("*") * F.lit(1000000.0)), 6).alias("logp_raw"),
    )
    # importance derives from the ROUNDED columns, not the raw averages:
    # subtracting two unrounded averages amplifies engine ulp noise across
    # the round-6 boundary (surfaced by the sf0.1 tri-scale check); the
    # rounded values are engine-stable, so their difference is too
    return agg.withColumn(
        "importance", F.round(F.col("logp_target") - F.col("logp_raw"), 6)
    )




# ---------------------------------------------------------------------------
# Trainable quality classifier (r7): hashing-trick features + multinomial
# Naive Bayes — the fastText-style linear curation scorer, trained CLOSED
# FORM in two aggregate passes so there is no iteration to destabilize and
# the whole run is engine-exact. The log-likelihood weights follow the
# bigram-LM determinism discipline (lm_bigram_model / lm_score_documents):
# ONE round(ln(rational), 6) per model cell, then every per-doc score is a
# sum of EXACT INTEGER micro-log-odds — a DuckDB oracle replays training
# and scoring bit for bit. A full-batch perceptron was built and measured
# first and REJECTED: with shared background vocabulary the summed update
# overshoots and the classifier oscillates between all-positive and
# all-negative states (measured 0.67/0.33/0.67 accuracy across passes even
# on a marker-separable corpus; the perceptron convergence theorem covers
# only the sequential online variant, which is not a data-parallel shape).
# ---------------------------------------------------------------------------


def hashed_token_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = 1024
) -> DataFrame:
    """Hashing-trick bag of words: (id, f, x) rows with f = 60-bit md5 of
    the token mod dim and x = the token's count in the doc. One explode +
    one hash aggregate; the feature space is fixed at dim regardless of
    vocabulary, which is the point of the trick at 100 TB — no vocab
    build, no dictionary shuffle, new tokens land in existing buckets."""
    from sparsity_spark.util import ensure_parallelism

    toks = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(words_expr(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    f = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long") % dim
    return (
        toks.select(F.col(id_col), f.alias("f"))
        .groupBy(id_col, "f")
        .agg(F.count("*").cast("long").alias("x"))
    )


def lexicon_label(
    docs: DataFrame,
    pos_tokens: list[str],
    neg_tokens: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weak-supervision labels from a lexicon rule: y = +1 when the doc
    uses more pos_tokens than neg_tokens (ties and token-free docs → -1).
    One map-only projection — the cheap heuristic a curation pipeline
    distills into a generalizing classifier (the CCNet/GPT-3 quality-
    classifier recipe: heuristic labels in, learned scorer out)."""
    w = words_expr(text_col)
    pos_arr = F.array(*[F.lit(t) for t in pos_tokens])
    neg_arr = F.array(*[F.lit(t) for t in neg_tokens])
    ca = F.size(F.filter(w, lambda t: F.array_contains(pos_arr, t)))
    cb = F.size(F.filter(w, lambda t: F.array_contains(neg_arr, t)))
    return docs.select(
        F.col(id_col), F.when(ca > cb, 1).otherwise(-1).cast("int").alias("y")
    )


def nb_train(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "y",
    dim: int = 1024,
) -> DataFrame:
    """Multinomial Naive Bayes over hashed features, closed form: per-class
    token-count aggregates → Laplace-smoothed log-likelihood ratios. Every
    weight is round(ln((c+1)/(t+dim)), 6) scaled to an exact integer
    micro-log-odds (the LM-scorer seam discipline): the only float op is
    one ln per model cell, rounded once — no order-dependent float sums
    anywhere, so training is reproducible across engines/partitionings.

    All dim buckets are materialized (unseen buckets carry the smoothed
    floor), plus one f = -1 row holding the log-prior — the weight table
    is exactly dim+1 rows, broadcastable at any corpus size. Scale shape:
    ONE pass over the feature rows (two conditional sums in the same
    aggregate), one scalar aggregate, no iteration. Returns (f, w6)."""
    spark = feats.sparkSession
    lab = labels.select(F.col(id_col), F.col(label_col).alias("y"))
    j = feats.join(lab, id_col)
    cls = j.groupBy("f").agg(
        F.sum(F.when(F.col("y") == 1, F.col("x")).otherwise(0)).alias("cpos"),
        F.sum(F.when(F.col("y") == -1, F.col("x")).otherwise(0)).alias("cneg"),
    )
    tot = j.agg(
        F.sum(F.when(F.col("y") == 1, F.col("x")).otherwise(0)).alias("tpos"),
        F.sum(F.when(F.col("y") == -1, F.col("x")).otherwise(0)).alias("tneg"),
    )
    nd = lab.agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("npos"),
        F.sum(F.when(F.col("y") == -1, 1).otherwise(0)).alias("nneg"),
    )
    allf = spark.range(dim).select(F.col("id").cast("long").alias("f"))
    full = allf.join(cls, "f", "left").crossJoin(F.broadcast(tot))

    def lp(c, t):
        return F.round(F.log((F.coalesce(c, F.lit(0)) + 1) / (F.col(t) + F.lit(dim))), 6)

    w6 = (
        F.round(lp(F.col("cpos"), "tpos") * 1e6) - F.round(lp(F.col("cneg"), "tneg") * 1e6)
    ).cast("long")
    weights = full.select("f", w6.alias("w6"))
    prior = nd.select(
        F.lit(-1).cast("long").alias("f"),
        F.round(F.round(F.log(F.col("npos") / F.col("nneg")), 6) * 1e6)
        .cast("long")
        .alias("w6"),
    )
    return weights.unionByName(prior)


def nb_score(
    feats: DataFrame, weights: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Score docs against the trained model: one broadcast join + one
    per-doc aggregate over exact integer micro-log-odds; the log-prior
    (the f = -1 row) joins in through a per-doc bias feature. Returns
    (id, score6, pred) — pred = sign(score6), score6 = 0 → -1."""
    ids = feats.select(id_col).distinct()
    bias = ids.select(
        F.col(id_col), F.lit(-1).cast("long").alias("f"), F.lit(1).cast("long").alias("x")
    )
    allrows = feats.select(id_col, "f", "x").unionByName(bias)
    return (
        allrows.join(F.broadcast(weights), "f")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w6")).cast("long").alias("score6"))
        .select(
            id_col,
            "score6",
            F.when(F.col("score6") > 0, 1).otherwise(-1).cast("int").alias("pred"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (r7): learn byte-pair-encoding merges from the
# corpus — the actual tokenizer-training workload of an LLM data pipeline,
# engine-exact end to end. The corpus is touched ONCE (the word-frequency
# aggregate); every merge iteration then runs on the driver over the
# vocabulary (cardinality-guarded), exactly how sentencepiece/HF trainers
# operate on word counts. The greedy left-to-right single-pair merge is a
# string-state fold ('OUT|PREV') that Python, Spark (aggregate() HOF, the
# encode expression path) and DuckDB (list_reduce) all express, so the SQL
# oracle replays TRAINING — pair counts, argmax with lexicographic
# tie-break, and the fold itself — bit for bit.
# Plain string replace was rejected: replace(' A B ', ' AB ') drops merges
# in runs of the same symbol (boundary-space sharing), diverging from
# textbook BPE on 'a a a a'.
# ---------------------------------------------------------------------------


def _bpe_apply_merge(tokens, a: str, b: str):
    """Greedy left-to-right merge of the pair (a, b) over a token array via
    a fold with state 'OUT|PREV' — tokens must not contain '|' or spaces
    (guaranteed by bpe_train's tokenization). Returns the merged sequence
    as a space-joined string."""
    A, B, AB = F.lit(a), F.lit(b), F.lit(a + b)

    def out(acc):
        return F.substring_index(acc, "|", 1)

    def prev(acc):
        return F.substring_index(acc, "|", -1)

    def j(o, tok):
        return F.when(o == "", tok).otherwise(F.concat(o, F.lit(" "), tok))

    def step(acc, x):
        return (
            F.when(prev(acc) == "", F.concat(out(acc), F.lit("|"), x))
            .when((prev(acc) == A) & (x == B), F.concat(j(out(acc), AB), F.lit("|")))
            .otherwise(F.concat(j(out(acc), prev(acc)), F.lit("|"), x))
        )

    def finish(acc):
        return F.when(prev(acc) == "", out(acc)).otherwise(j(out(acc), prev(acc)))

    return F.aggregate(tokens, F.lit("|"), step, finish)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 3,
    max_vocab: int = 1_000_000,
):
    """Learn BPE merges the way sentencepiece/HF trainers do: the corpus
    is touched ONCE by the distributed word-frequency aggregate (the only
    corpus-sized pass), then the merge loop runs in plain Python over the
    collected (word, count) table — vocabulary-sized state lives in one
    process, guarded by ``max_vocab``. A distributed loop would pay at
    least one Spark job per merge to move KB of state; here the whole
    training is one collect.

    Per merge: adjacent-pair counts weighted by word frequency (exact
    integers), argmax with (count DESC, pair-string ASC) tie-break —
    Python's str ordering is code-point order, which equals Spark's and
    DuckDB's binary UTF-8 ordering — and the greedy single-pass fold
    (:func:`_apply_merges_py_one`) applied to every word. The initial
    segmentation is one token per code point plus '</w>', the same split
    as :func:`bpe_encode`'s expression path and the SQL oracle.

    Returns (merges, seqs): merges = [(rank, a, b, count)], the
    :func:`bpe_encode` input format; seqs = the final (w, cnt, seq)
    segmentation table."""
    from sparsity_spark.util import ensure_parallelism, local_df

    docs = ensure_parallelism(docs)
    words = (
        docs.select(F.explode(words_expr(text_col)).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    rows = words.limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"bpe_train: vocabulary exceeds max_vocab={max_vocab}; raise the "
            f"guard deliberately — driver state is vocab-sized by design"
        )
    seqs: dict[str, list[str]] = {r["w"]: list(r["w"]) + ["</w>"] for r in rows}
    cnts: dict[str, int] = {r["w"]: int(r["cnt"]) for r in rows}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        pair_counts: dict[str, int] = {}
        for w, toks in seqs.items():
            c = cnts[w]
            for i in range(len(toks) - 1):
                p = toks[i] + " " + toks[i + 1]
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best_pair, best_c = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        a, b = best_pair.split(" ", 1)
        merges.append((rank, a, b, best_c))
        for w, toks in seqs.items():
            if len(toks) >= 2:
                seqs[w] = _apply_merges_py_one(toks, a, b)
    return merges, local_df(
        docs.sparkSession,
        [(w, cnts[w], " ".join(toks)) for w, toks in seqs.items()],
        "w string, cnt long, seq string",
    )


def _apply_merges_py(word: str, merges) -> list[str]:
    """Pure-Python replay of the greedy 'OUT|PREV' fold, one full
    left-to-right pass PER MERGE in rank order — token-for-token identical
    to :func:`_bpe_apply_merge` (the Spark aggregate() HOF) and to the
    oracle's DuckDB list_reduce, so either encode path lands on the same
    segmentation. ``merges`` is [(a, b), ...] in rank order."""
    toks: list[str] = list(word) + ["</w>"]
    for a, b in merges:
        if len(toks) < 2:
            break
        toks = _apply_merges_py_one(toks, a, b)
    return toks


def _apply_merges_py_one(toks: list[str], a: str, b: str) -> list[str]:
    """One greedy left-to-right merge pass over an existing token list
    (the per-merge step of :func:`bpe_train`)."""
    ab = a + b
    out: list[str] = []
    prev = None
    for x in toks:
        if prev is None:
            prev = x
        elif prev == a and x == b:
            out.append(ab)
            prev = None
        else:
            out.append(prev)
            prev = x
    if prev is not None:
        out.append(prev)
    return out


def write_merge_store(spark, merges: list, table: str) -> None:
    """Persist a trained merge list as a table (r9 — the production
    tokenizer seam: train once, encode forever without retraining). One
    row per merge (rank, a, b, cnt); overwrite semantics — a tokenizer is
    versioned wholesale, never incrementally patched (merges are
    order-dependent: appending to a live store would silently change the
    meaning of every earlier encode)."""
    from sparsity_spark.stores import _drop_table_and_location

    rows = [(int(r), str(a), str(b), int(c)) for r, a, b, c in merges]
    df = spark.createDataFrame(
        rows, "rank int, a string, b string, cnt long"
    ).coalesce(1)
    _drop_table_and_location(spark, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)


def read_merge_store(spark, table: str) -> list:
    """Load a persisted merge list in rank order — the
    :func:`bpe_encode` input format (metadata-sized collect)."""
    return [
        (r["rank"], r["a"], r["b"], r["cnt"])
        for r in spark.table(table).orderBy("rank").collect()
    ]


def bpe_encode(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_expr_merges: int = 8,
) -> DataFrame:
    """Tokenize documents with a trained merge list. Returns
    (id, n_words, n_tokens): the LLM-pipeline token accounting surface
    (n_tokens shrinks as merges compress).

    Two plan shapes behind one API (r9 — the ``max_expr_merges`` seam,
    same split discipline as the fake-vs-real codec seams):

    * ≤ ``max_expr_merges`` merges — per word, the initial char
      segmentation then every merge's greedy fold in rank order as pure
      string EXPRESSIONS (no UDF, no extra shuffle). Oracle-friendly, but
      the expression tree grows linearly with merge count: a real
      tokenizer's 32k merges would blow the analyzer/codegen long before
      data size matters, so this form is capped.
    * deeper merge lists — the DISTINCT-word table (vocab-sized by
      definition) passes once through an Arrow kernel that replays the
      same greedy folds in Python with the merge list broadcast as a plan
      constant, and the corpus's exploded words broadcast-join back to
      the per-word token counts. Python work is strictly vocab-sized;
      every corpus-sized operation (explode, distinct's map-side-combined
      shuffle, the broadcast hash join, the final per-doc aggregate)
      stays JVM-side — a 100 TB corpus tokenizes at scan speed with one
      vocab-sized side computation.

    Both paths produce identical counts (:func:`_apply_merges_py` is the
    fold, token for token) — test-pinned at every boundary width."""
    from sparsity_spark.util import ensure_parallelism

    toks = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(words_expr(text_col)).alias("w")
    ).filter((F.col("w") != "") & (~F.col("w").contains("|")))
    if len(merges) <= max_expr_merges:
        # r11 (guide §2.3/§1.2): the greedy fold is a function of the WORD
        # alone, so it runs once per DISTINCT word — vocab-sized — and the
        # result broadcast-joins back to the corpus's exploded tokens,
        # exactly the deep path's shape. The r8 form evaluated the
        # char-split + per-merge fold expression once per token
        # OCCURRENCE (270k evaluations for a 31-word vocabulary at
        # sf0.1); a 100 TB corpus re-folded every occurrence at scan
        # time. The distinct is a map-side-combined vocab aggregate.
        # (?s): one token per code point, line terminators included —
        # Python's list(w) on the kernel path splits them too
        seq = F.concat(F.regexp_replace(F.col("w"), "(?s)(.)", "$1 "), F.lit("</w>"))
        expr = seq
        for _, a, b, _c in merges:
            expr = _bpe_apply_merge(F.split(expr, " "), a, b)
        enc = toks.select("w").distinct().select(
            "w", F.size(F.split(expr, " ")).cast("long").alias("ntok")
        )
        per_word = toks.join(F.broadcast(enc), "w").select(F.col(id_col), "ntok")
    else:
        pairs = tuple((a, b) for _, a, b, _c in merges)

        def _encode_kernel(batches, _merges=pairs):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "w": pdf["w"],
                        "ntok": pd.array(
                            [
                                len(_apply_merges_py(w, _merges))
                                for w in pdf["w"]
                            ],
                            dtype="Int64",
                        ),
                    }
                )

        enc = toks.select("w").distinct().mapInPandas(
            _encode_kernel, schema="w string, ntok long"
        )
        per_word = toks.join(F.broadcast(enc), "w").select(F.col(id_col), "ntok")
    return per_word.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_lines: int = 2,
) -> DataFrame:
    """C4-style web-text cleaning (r8 — Raffel et al. 2020 §2.2, the
    canonical LLM-corpus line filter): keep only lines that end in
    terminal punctuation, have at least ``min_words`` words, and don't
    mention javascript; drop WHOLE documents that contain curly braces
    (code signal), the phrase "lorem ipsum" (placeholder boilerplate),
    or end up with fewer than ``min_lines`` surviving lines.

    Returns (id, clean_text, n_lines_kept, n_lines_dropped, kept) —
    cleaning and the doc gate as data, so the caller decides whether to
    filter or audit.

    Scale shape: ONE map-only projection — array lambda expressions over
    the line split, zero Python, zero shuffle, whole-stage codegen. A
    100 TB crawl cleans at scan speed."""
    lines = F.split(F.col(text_col), "\n")

    def line_ok(x):
        t = F.trim(x)
        return (
            t.rlike('[.!?"]$')
            & (F.size(F.split(t, r"\s+")) >= min_words)
            & (~F.lower(x).contains("javascript"))
        )

    kept_lines = F.filter(lines, line_ok)
    low = F.lower(F.col(text_col))
    doc_ok = (
        (F.size(kept_lines) >= min_lines)
        & (~low.contains("lorem ipsum"))
        & (~low.contains("{"))
        & (~low.contains("}"))
    )
    return docs.select(
        F.col(id_col),
        F.array_join(kept_lines, "\n").alias("clean_text"),
        F.size(kept_lines).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept_lines)).cast("long").alias("n_lines_dropped"),
        doc_ok.alias("kept"),
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level collocation mining (r9 — phrase discovery): score every
    adjacent word bigram by its pointwise-mutual-information ratio
    ``n · c(xy) / (c(x) · c(y))`` — how much more often the pair co-occurs
    than independence predicts. The top of the list is the corpus's
    multi-word units ("new york", "machine learning"); a training
    pipeline uses it to freeze phrases before tokenizer training and to
    spot templated boilerplate (near-deterministic follower words).

    Determinism: the three counts and the token total are exact BIGINTs;
    the ratio is two IEEE multiplies and one divide on
    exactly-representable integers (all counts < 2^53), rounded half-away
    to 6 — bit-identical across engines, no logarithm (libm log is the
    one transcendental different builds disagree on; PMI's log is
    monotone in this ratio, so ranking is unchanged).

    Plan shape: one map-only projection to token arrays; unigram counts
    and bigram counts are each ONE partial+final hash aggregate over the
    exploded stream; the token total is a scalar aggregate; the two
    count-attach joins key on single words (vocabulary-sized right side;
    AQE splits the "the"-key skew). Work is linear in corpus tokens —
    nothing is ever quadratic and nothing collects beyond one scalar.

    Returns (w1, w2, pair_count, w1_count, w2_count, pmi_ratio) for
    bigrams with ``pair_count >= min_count``."""
    out, uni = _collocations_plan(docs, min_count, text_col)
    # materialize the vocabulary-bigram-sized result, then release the
    # unigram cache (the pagerank cache-release discipline — a bench loop
    # must not accumulate block-manager entries); finally so a failed
    # checkpoint job cannot leak the cache (the phrase_search shape)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        uni.unpersist()


def _collocations_plan(docs: DataFrame, min_count: int, text_col: str):
    """Lazy body of :func:`collocations`, split out (the pagerank-helper
    pattern) so plan-shape tests see the real aggregate/join tree instead
    of the checkpoint-collapsed Scan ExistingRDD. Returns (plan, the
    persisted unigram handle the caller must release)."""
    from sparsity_spark.util import ensure_parallelism

    toks = ensure_parallelism(docs).select(F.split(F.col(text_col), " ").alias("w"))
    words = toks.select(F.explode("w").alias("tok")).where(F.col("tok") != "")
    # ONE tokenize+aggregate pass feeds the token total, BOTH count-attach
    # join sides, and nothing recomputes: persist the vocabulary-sized
    # unigram table and derive n from it (r9 review fix — the eager
    # full-corpus count() was a second corpus scan, and the unpersisted
    # aggregate re-tokenized the corpus once per join side)
    uni = words.groupBy("tok").agg(F.count("*").cast("long").alias("c")).persist()
    try:
        n_tokens = int(uni.agg(F.sum("c")).collect()[0][0] or 0)
    except Exception:
        # the collect is the first job touching the fresh persist; if it
        # fails, nothing else will release the handle (r10 advisor
        # finding — the caller's try/finally only exists once we return)
        uni.unpersist()
        raise
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
                " (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2").where((F.col("w1") != "") & (F.col("w2") != ""))
    pc = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    c1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("w1_count"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("w2_count"))
    out = (
        pc.join(c1, "w1")
        .join(c2, "w2")
        .select(
            "w1",
            "w2",
            "pair_count",
            "w1_count",
            "w2_count",
            F.round(
                (F.lit(n_tokens).cast("double") * F.col("pair_count"))
                / (F.col("w1_count").cast("double") * F.col("w2_count")),
                6,
            ).alias("pmi_ratio"),
        )
    )
    return out, uni


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search via a positional inverted index (r9 — the
    retrieval primitive BM25 can't express: bag-of-words ranking finds
    documents CONTAINING the words; this finds the words ADJACENT and in
    order). The same plan is how a decontamination pass checks benchmark
    strings against a corpus at token granularity.

    Plan shape: ONE tokenize pass builds (doc, position, token) postings
    for the phrase's words only (filtered BEFORE the join fan-out and
    PERSISTED, so the corpus is scanned once, not once per phrase word —
    r9 review fix; posting volume is the words' corpus frequency, not
    corpus size); k-word phrases equi-join the k posting slices on
    (doc, aligned position) — communication is posting-list-sized, the
    classic search-engine intersection. One hash aggregate counts
    matches per document; the doc-sized result is materialized and the
    posting cache released before return. Returns (doc_id, n_matches)
    for documents with at least one occurrence."""
    res, postings = _phrase_search_plan(docs, phrase, id_col, text_col)
    try:
        return res.localCheckpoint(eager=True)
    finally:
        postings.unpersist()


def _phrase_search_plan(
    docs: DataFrame, phrase: str, id_col: str = "doc_id", text_col: str = "text"
):
    """Lazy body of :func:`phrase_search` (the pagerank-helper pattern —
    plan-shape tests need the real join tree, not the checkpoint-collapsed
    scan). Returns (plan, the persisted postings handle to release)."""
    words = [w for w in phrase.split(" ") if w != ""]
    if not words:
        raise ValueError("phrase must contain at least one token")
    from sparsity_spark.util import ensure_parallelism

    postings = (
        ensure_parallelism(docs).select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
        )
        .where(F.col("tok").isin(words))
        .persist()
    )
    out = None
    for i, w in enumerate(words):
        p = postings.where(F.col("tok") == w).select(
            id_col, (F.col("pos") - i).alias("base")
        )
        out = p if out is None else out.join(p, [id_col, "base"])
    res = out.groupBy(id_col).agg(F.count("*").cast("long").alias("n_matches"))
    return res, postings


def top_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document keyword extraction (r9): each document's top-k terms
    by TF-IDF — the summary/tagging primitive every corpus browser and
    weak labeler needs. Rides :func:`tfidf_frame`'s cells (the scores are
    ALREADY round-6, so the rank compares the identical doubles both
    engines computed; ties break on the term, deterministically); the
    per-doc top-k is one rank window partitioned by document — partial
    top-k pushes map-side, nothing global sorts. Returns
    (doc_id, keyword, tfidf, rank)."""
    from sparsity_spark.frame import COL, VAL
    from sparsity_spark.util import ensure_parallelism

    # the cells path only — skipping tfidf_frame's vocabulary collect and
    # SparseFrame dictionary, which this doc-sized ranking never needs
    # (r9 review fix); the k-per-doc result is materialized so the two
    # aggregate caches can be released before return
    cells, tf, df_counts = _tfidf_cells(ensure_parallelism(docs), id_col, text_col, 1)
    try:
        w = Window.partitionBy(id_col).orderBy(F.desc(VAL), F.col(COL))
        out = (
            cells.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                id_col,
                F.col(COL).alias("keyword"),
                F.col(VAL).alias("tfidf"),
                F.col("rank").cast("integer").alias("rank"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        tf.unpersist()
        df_counts.unpersist()
