"""Text-analysis operators for training-data curation: token counting,
quality features, language-ID (marker-token heuristic), and document
fingerprinting. All pure Catalyst expressions over the token array --
no Python in the hot path, so the work stays inside whole-stage codegen
and scales linearly with corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .dedup import hot_keys, shared_key_counts

# Deterministic marker lexicons (toy profiles over the synthetic corpus
# vocabulary; swap for real stopword tables in production). Order of the
# dict is the tie-break order (alphabetical).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("key", "value", "hash"),
    "en": ("the", "a", "of"),
    "es": ("data", "table", "row"),
    "fr": ("line", "column", "part"),
    "zh": ("spark", "query", "scan"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def quality_columns(text_col: Column | str) -> dict[str, Column]:
    """The shared per-document quality signals as named Column
    expressions -- the single definition both the batch report
    (:func:`quality_features`) and the streaming curation filter
    (``streaming.windows.curated_document_stream``) compile, so the
    live keep/drop policy can never drift from the batch audit.

    Ratios are zero-guarded: a zero-token document scores ratio 0.0
    instead of raising DIVIDE_BY_ZERO under ANSI mode (Spark 4
    default) -- an unguarded int/int division is a poison pill that
    kills a streaming query on the first empty document.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    guard = lambda num: F.when(n > 0, num / n).otherwise(F.lit(0.0))  # noqa: E731
    return {
        "n_tokens": n,
        "n_stop": n_stop,
        "stop_ratio": guard(n_stop),
        "avg_token_len": guard(sum_len),
    }


def dup_frac_column(text_col: Column | str, n: int = 2) -> Column:
    """Duplicate word-n-gram fraction as a single zero-guarded Column
    (the signal behind :func:`repetition_score`), shared with the
    streaming curation filter."""
    from ..functions.text import word_shingles

    return _let(
        word_shingles(text_col, n),
        lambda g: F.when(
            F.size(g) > 0,
            (F.size(g) - F.size(F.array_distinct(g))) / F.size(g),
        ).otherwise(F.lit(0.0)),
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: token count, stopword ratio, mean
    token length. Ratios are single int/int divisions (deterministic,
    zero-guarded -- see :func:`quality_columns`).
    """
    cols = quality_columns(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        *[c.alias(name) for name, c in cols.items()],
    )


def lang_scores(text_col: Column | str) -> dict[str, Column]:
    """Marker-hit counts per language."""
    toks = tokens(text_col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Argmax language by marker count; ties break to the alphabetically
    first language (fixed CASE order -- same shape as the oracle SQL).
    """
    scores = lang_scores(text_col)
    langs = sorted(scores)
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    best = None
    for lang in langs:
        best = scores[lang] if best is None else F.greatest(best, scores[lang])
    return df.select(
        F.col(id_col).alias("id"),
        pred.alias("pred_lang"),
        best.alias("score"),
    )


def _let(value: Column, body) -> Column:
    """Let-bind an expression: evaluate ``value`` exactly once and pass
    the materialized result to ``body`` as a lambda variable.

    Implemented as ``element_at(transform(array(value), body), 1)`` --
    ``ArrayTransform`` evaluates its argument once, then the lambda body
    sees a bound variable, not the original expression tree. Without
    this, referencing an expensive array expression inside another
    higher-order lambda re-evaluates it per element (Catalyst's
    CollapseProject inlines single-use aliases, and interpreted HOF
    evaluation has no cross-lambda subexpression elimination), turning
    an O(n) fingerprint into O(n^2) md5 calls per row.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def winnow_fingerprints(
    text_col: Column | str, k: int = 5, window: int = 4
) -> Column:
    """Winnowing document fingerprint set (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 -- the MOSS algorithm): hash every char k-gram of the
    normalized text, slide a ``window``-wide frame over the hash
    sequence, record each frame's minimum, and return the distinct
    minima sorted. Guarantees any match of length >= k + window - 1 is
    caught by at least one shared fingerprint.

    Pure Catalyst array expressions: the whole computation stays inside
    one projection -- no explode, no shuffle, O(doc bytes) per row --
    so it scales embarrassingly parallel over the corpus. The
    normalized text and the k-gram hash array are let-bound (see
    ``_let``) so each is computed once per row. Hashes are portable
    md5-48s (same scheme as the dedup operators), so DuckDB reproduces
    them bit-exactly for the oracle gate.

    Texts shorter than k yield one whole-text shingle; hash sequences
    shorter than ``window`` yield one frame.
    """
    from .dedup import normalize_text, portable_hash48

    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def hashes_of(t: Column) -> Column:
        n_sh = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: portable_hash48(F.substring(t, i, k)),
        )

    def minima_of(hs: Column) -> Column:
        n_frames = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_frames),
            lambda j: F.array_min(F.slice(hs, j, window)),
        )

    return _let(
        normalize_text(c),
        lambda t: _let(
            hashes_of(t),
            lambda hs: F.array_sort(F.array_distinct(minima_of(hs))),
        ),
    )


def winnow_summary(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Per-document fingerprint summary (count + extrema) -- the
    hashable gate surface over ``winnow_fingerprints``. The fingerprint
    array is expanded through a single-row ``inline`` generator so the
    expensive expression is evaluated once per row, not once per output
    column."""
    summary = _let(
        winnow_fingerprints(text_col, k=k, window=window),
        lambda fp: F.struct(
            F.size(fp).alias("n_fp"),
            F.element_at(fp, 1).alias("min_fp"),
            F.element_at(fp, -1).alias("max_fp"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.inline(F.array(summary))
    )


def repetition_score(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Duplicate word-n-gram fraction per document -- the within-doc
    repetition quality signal LLM corpus filters use (high duplicate
    2-gram / 3-gram fractions mark boilerplate, template spam, and
    decoding loops; cf. the repetition filters of Rae et al., Gopher
    2021, appendix A1.1). Returns (id, n_grams, n_distinct, dup_frac).

    Pure Catalyst: the shingle array is let-bound and reduced to three
    scalars in one projection -- no explode, no shuffle, linear per
    row, so it composes with the corpus-scale quality pipeline without
    a groupBy.
    """
    from ..functions.text import word_shingles

    summary = _let(
        word_shingles(F.col(text_col), n),
        lambda g: F.struct(
            F.size(g).cast("long").alias("n_grams"),
            F.size(F.array_distinct(g)).cast("long").alias("n_distinct"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.inline(F.array(summary))
    ).withColumn(
        "dup_frac",
        F.when(
            F.col("n_grams") > 0,
            (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams"),
        ).otherwise(F.lit(0.0)),
    )


# Curation-time scrubbing: the redaction pass an LLM corpus pipeline
# runs before training (emails, URLs, long digit runs -> placeholder
# tokens). Chained JVM regexp_replace -- single projection, no Python.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
DIGIT_RUN_RE = r"\d{7,}"


def scrub_text(col: Column | str) -> Column:
    """Redact emails, URLs, and 7+-digit runs to typed placeholders.
    URL first: an email-shaped substring inside a URL should scrub as
    part of the URL, not leave a torn placeholder behind."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, DIGIT_RUN_RE, "<NUM>")


def scrub_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_urls, n_emails, n_digit_runs, clean_text) -- the counts
    feed a drop-threshold filter (documents that are mostly
    placeholders carry no training signal), the text feeds the next
    stage. regexp_count is evaluated on the original column, so the
    counts are per-class even where classes nest."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_count(c, F.lit(URL_RE)).alias("n_urls"),
        F.regexp_count(
            F.regexp_replace(c, URL_RE, "<URL>"), F.lit(EMAIL_RE)
        ).alias("n_emails"),
        F.regexp_count(c, F.lit(DIGIT_RUN_RE)).alias("n_digit_runs"),
        scrub_text(c).alias("clean_text"),
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int = 2048,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-width character windows with optional
    overlap -- the sequence-chunking step before tokenize-and-pack in a
    training pipeline. Returns (id, chunk_idx, chunk, n_chunks).

    ``sequence``-generated offsets + ``substring`` inside one
    projection, then a single explode: linear in corpus bytes, no
    shuffle, and chunk boundaries are purely content-determined, so the
    chunking is reproducible under any partitioning. Empty texts yield
    one empty chunk (documents are never silently dropped -- a drop is
    a filter's decision, not a splitter's).
    """
    if not 0 <= overlap < chunk_chars:
        # negative overlap would silently skip characters between
        # windows, breaking the reconstruction invariant
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_chars")
    step = chunk_chars - overlap
    c = F.col(text_col)
    n_chunks = F.greatest(
        F.ceil((F.length(c) - F.lit(overlap)) / F.lit(step)), F.lit(1)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.substring(c, i * step + 1, chunk_chars),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
        n_chunks.alias("n_chunks"),
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    seed: str = "mix1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted mixture sampling: keep each row with its stratum's
    rate, decided by a content-addressed hash bucket -- the
    domain-reweighting step that composes a training mixture (e.g. 3x
    code, 0.5x web). Deterministic per (seed, id): resampling with the
    same seed is stable across runs, engines, and cluster sizes;
    changing the seed draws an independent mixture.

    The rates dict becomes a broadcast map literal (constant-folded);
    unknown strata fall back to ``default_rate``. Rates are fractions
    in [0, 1]; upsampling (>1) belongs to the loader, not the sampler.
    """
    items = []
    for k, v in sorted(rates.items()):
        items.extend([F.lit(k), F.lit(float(v))])
    rate = F.coalesce(
        F.element_at(F.create_map(*items), F.col(stratum_col)),
        F.lit(float(default_rate)),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "-"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    return df.filter(bucket < rate * 1_000_000)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints -- MOSS's actual
    use: detecting LOCALIZED overlap (a shared paragraph inside
    otherwise-different documents), which whole-document similarity
    (MinHash/SimHash) dilutes away. Any shared run of >=
    k + window - 1 chars is guaranteed to surface at least one shared
    fingerprint.

    Same inverted-index shape as the Jaccard/LSH pair generators: one
    explode to (fingerprint, id) postings, stop-fingerprint cap
    (``max_posting``, ``dedup.hot_keys``), self-join on the
    fingerprint, count per pair (``dedup.shared_key_counts``). Returns
    (id_a, id_b, n_shared), id_a < id_b, n_shared >= min_shared.
    """
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, k=k, window=window)).alias("fp"),
    )
    if max_posting is not None:
        fps = fps.join(hot_keys(fps, "fp", max_posting), "fp", "left_anti")
    return (
        shared_key_counts(fps, "fp")
        .select("id_a", "id_b", F.col("n").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def corpus_logfreq_score(
    df: "DataFrame", id_col: str, text_col: str
) -> "DataFrame":
    """Corpus-statistics quality score: per document, the mean and
    minimum log2-magnitude of its tokens' corpus frequencies -- the
    cheap stand-in for LM-perplexity filtering (documents made of rare
    garbage tokens score low; boilerplate made of ubiquitous tokens
    scores high). Two shuffles: the vocabulary count and the per-doc
    aggregate; the token->frequency join is a plain hash equi-join that
    scales with the token stream, never a cross product.

    Determinism contract: the per-token signal is ``floor(log2(count))``
    -- an exact small integer in every engine (log2 is correctly
    rounded at the only boundary values, the powers of two, which are
    exactly representable) -- so the per-doc sum is integer-exact and
    order-independent, and the mean is a single final IEEE division.
    Raw ln()-based scoring would hash-differ across libms.
    """
    from ..functions.text import tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_n"))
    scored = toks.join(vocab, "tok").select(
        "id", F.floor(F.log2("tok_n")).cast("long").alias("lg")
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("lg") / F.count(F.lit(1))).alias("mean_logfreq"),
            F.min("lg").alias("min_logfreq"),
        )
    )


def boilerplate_ngrams(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
    min_doc_frac: float = 0.2,
    top_k: int = 10,
) -> "DataFrame":
    """Boilerplate detection: the word n-grams that recur across a large
    fraction of a group's documents (site navigation, headers, footers,
    license blurbs) -- the standard corpus-cleaning signal that per-doc
    repetition scoring cannot see, because boilerplate looks perfectly
    normal inside any single document.

    Returns (group, shingle, n_docs, doc_frac, rnk) for shingles
    appearing in >= min_doc_frac of the group's documents, top_k per
    group by (n_docs desc, shingle) -- a deterministic total order.

    Scale shape: distinct shingles per doc (same shingle expressions as
    dedup.shingle_set, with the group column carried alongside) ->
    count per (group, shingle) with map-side partial agg -> broadcast
    the per-group doc totals (|groups| rows) -> the rnk <= k predicate
    compiles to WindowGroupLimit, so each map partition forwards at
    most k rows per group to the rank shuffle. Nothing in the plan
    scales with pair counts; the heaviest exchange carries
    (group, shingle, count) rows.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    toked = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    cnt = F.size("toks")
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("toks", i + k) for k in range(n)]
    )
    sh = toked.select(
        "id", "grp", F.explode(F.array_distinct(F.transform(idx, gram))).alias("shingle")
    )
    counts = sh.groupBy("grp", "shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("total_docs")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n_docs"), "shingle")
    return (
        counts.join(F.broadcast(totals), "grp")
        .filter(F.col("n_docs") >= F.ceil(F.lit(min_doc_frac) * F.col("total_docs")))
        .withColumn("doc_frac", F.col("n_docs") / F.col("total_docs"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("grp").alias("grp"),
            "shingle",
            "n_docs",
            "doc_frac",
            "rnk",
        )
    )


def collocation_lift(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 20,
) -> "DataFrame":
    """Collocation mining: adjacent token pairs ranked by association
    lift = P(w2|w1) / P(w2) -- the multi-word-expression signal
    (named entities, idioms, templated phrases) used to build tokenizer
    merge lists and phrase vocabularies.

    Determinism contract: lift is computed in exact integer arithmetic
    as ``(c_xy * n_tokens * 1000) div (c_x * c_y)`` (permille) -- no
    floating log/division whose libm could differ between engines. At
    gate scale the products stay far below 2^63; a 100 TB corpus
    upgrades the two factors to decimal(38,0) (Spark) / HUGEINT
    (DuckDB), same expressions.

    Scale shape: one explode to bigram occurrence rows, two hash
    aggregations (bigram counts, unigram counts), two hash joins of the
    filtered bigram side against unigram counts, and a broadcast of the
    single-row token total. min_count prunes the long tail BEFORE the
    joins, so the joined relation is the (tiny) candidate set.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    cnt = F.size("toks")
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = toked.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = toked.select(F.explode("toks").alias("w"))
    c_uni = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = unigrams.agg(F.count(F.lit(1)).alias("n_tokens"))
    c_big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    joined = (
        c_big.join(c_uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(c_uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(total))
    )
    lift = F.expr("(c_xy * n_tokens * 1000) div (c_x * c_y)")
    w = Window.orderBy(F.desc("lift_permille"), "w1", "w2")
    return (
        joined.select("w1", "w2", "c_xy", lift.alias("lift_permille"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .orderBy("rnk")
    )


def tfidf_keywords(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    top_k: int = 3,
) -> "DataFrame":
    """Per-document keyword extraction: top tokens by tf x idf, with
    idf as ``floor(log2(n_docs div doc_freq))`` -- an exact small
    integer in every engine (log2 is correctly rounded at its only
    floor boundaries, the powers of two), so scores and ranking are
    bit-identical across engines; a float idf would hash-differ across
    libms.

    Scale shape: one explode to token rows, a (doc, token) tf
    aggregate, a token document-frequency aggregate, a hash join of the
    two, a 1-row broadcast of the doc count, and a WindowGroupLimit
    top-k per doc. Ubiquitous tokens (df close to n_docs) score idf 0
    and drop out before the window.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doc_freq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.floor(F.log2(F.greatest(F.expr("n_docs div df"), F.lit(1)))).cast(
                "long"
            ),
        )
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("id", "tok", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring (the CCNet-style perplexity filter).
# ---------------------------------------------------------------------------

# Stupid-backoff constants, expressed in the integer floor-log2 cost
# domain used across this package (tfidf_keywords, corpus_logfreq_score):
# an unseen bigram backs off to the unigram cost plus a flat penalty
# (~ discount of 2^-4); an out-of-vocabulary token costs a flat 40 bits
# (~ P = 2^-40, far below any in-vocabulary cost on real corpora).
LM_BACKOFF_PENALTY = 4
LM_OOV_COST = 40


def _bl(col: Column) -> Column:
    """floor(log2(n)) of a positive integer count -- exact in every
    engine (log2 is correctly rounded at its only floor boundaries, the
    powers of two, which are exactly representable)."""
    return F.floor(F.log2(col)).cast("long")


def bigram_rows(df: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """(id, w1, w2) adjacent-token pairs per document, built by a pure
    projection (transform over sequence + explode) -- no window, no
    shuffle; documents with fewer than two tokens emit nothing."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    n = F.size("toks")
    bi = F.transform(
        # sequence() with stop < start counts DOWN, so the n >= 2 filter
        # below is load-bearing, not defensive.
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"),
            F.element_at("toks", i + 1).alias("w2"),
        ),
    )
    return (
        toked.filter(n >= 2)
        .select("id", F.explode(bi).alias("b"))
        .select("id", "b.w1", "b.w2")
    )


def ngram_lm_model(
    train: "DataFrame", id_col: str, text_col: str
) -> tuple["DataFrame", "DataFrame"]:
    """Train a bigram stupid-backoff LM with integer-bit costs.

    Returns (pair_model, unigram_model):
      pair_model(w1, w2, pair_cost)   -- cost of a SEEN bigram,
          floor(log2 c(w1)) - floor(log2 c(w1 w2))  ~ -log2 P(w2|w1);
      unigram_model(w2, backoff_cost) -- cost of backing off to the
          unigram, floor(log2 N) - floor(log2 c(w2)) ~ -log2 P(w2),
          with N the training token count folded in at train time (a
          1-row broadcast here so scoring pays no extra join).

    All costs are exact small integers (see _bl), so downstream sums
    are order-independent and engine-identical -- a float log-prob
    would hash-differ across libms. Scale shape: two vocabulary-sized
    aggregations (shuffles on token / pair) and one vocab-side hash
    join; nothing scales with document count after the aggregations.
    The unigram count relation feeds three consumers (backoff model,
    pair-cost join, total) and is persisted -- vocab-sized, bounded --
    so the training corpus is tokenized once for it, not three times
    (ReuseExchange was observed NOT to dedupe the identical agg
    subtrees here; without the persist the plan re-scans the corpus
    per consumer).
    """
    uni_rows = train.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    uni = uni_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    total = uni.agg(_bl(F.sum("c")).alias("bl_n"))
    unigram_model = uni.crossJoin(F.broadcast(total)).select(
        F.col("tok").alias("w2"),
        (F.col("bl_n") - _bl(F.col("c"))).alias("backoff_cost"),
    )
    big = (
        bigram_rows(train, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    pair_model = big.join(
        uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1"
    ).select(
        "w1", "w2", (_bl(F.col("c1")) - _bl(F.col("c12"))).alias("pair_cost")
    )
    return pair_model, unigram_model


def ngram_lm_score(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    pair_model: "DataFrame",
    unigram_model: "DataFrame",
    backoff_penalty: int = LM_BACKOFF_PENALTY,
    oov_cost: int = LM_OOV_COST,
) -> "DataFrame":
    """Score documents against a trained bigram LM (ngram_lm_model):
    per document the total and mean integer-bit cost, plus how many
    bigrams backed off or hit out-of-vocabulary tokens. Low mean_cost =
    predictable text (boilerplate); high = rare-token garbage -- the
    decision axis of a CCNet-style perplexity filter.

    Scale shape: two hash equi-joins against vocabulary-sized models
    (broadcastable under AQE when the vocabulary is small; plain
    shuffle joins on w1/w2 and w2 otherwise -- never keyed on the
    document), then one per-document aggregation. Documents with fewer
    than two tokens have no bigrams and are excluded, mirroring
    bigram_rows.
    """
    rows = bigram_rows(df, id_col, text_col)
    scored = (
        rows.join(pair_model, ["w1", "w2"], "left")
        .join(unigram_model, "w2", "left")
        .select(
            "id",
            F.coalesce(
                F.col("pair_cost"),
                F.lit(backoff_penalty) + F.col("backoff_cost"),
                F.lit(oov_cost),
            ).alias("cost"),
            F.when(
                F.col("pair_cost").isNull() & F.col("backoff_cost").isNotNull(), 1
            )
            .otherwise(0)
            .alias("bo"),
            F.when(
                F.col("pair_cost").isNull() & F.col("backoff_cost").isNull(), 1
            )
            .otherwise(0)
            .alias("oov"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("cost").alias("sum_cost"),
        F.sum("bo").cast("long").alias("n_backoff"),
        F.sum("oov").cast("long").alias("n_oov"),
        (F.sum("cost") / F.count(F.lit(1))).alias("mean_cost"),
    )


def corpus_card(
    df: "DataFrame", id_col: str, text_col: str, by: str = "source"
) -> "DataFrame":
    """Per-stratum dataset card -- the summary table a curation run
    publishes next to its output shards: document and token volume,
    mean and exact lower-median document length, exact-duplicate
    volume (distinct normalized-content fingerprints), and language
    spread. One row per ``by`` stratum.

    Scale shape: one narrow per-document projection (token count +
    md5 fingerprint, no shuffle), then one groupBy(by) with two
    distinct-aggregates (Catalyst plans them as a single expand --
    rows x2, still linear and map-side partial) and one
    window-ranked median per stratum. Everything is keyed on the
    stratum, never the document; mean is a single final IEEE division
    over exact integers (determinism doctrine).
    """
    from pyspark.sql.window import Window

    from .dedup import exact_fingerprint

    sig = df.select(
        F.col(by).alias("stratum"),
        F.col(id_col).alias("id"),
        F.col("lang"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        exact_fingerprint(text_col).alias("fp"),
    )
    wp = Window.partitionBy("stratum")
    med = (
        sig.select(
            "stratum",
            "n_tokens",
            F.row_number().over(wp.orderBy("n_tokens", "id")).alias("rn"),
            F.count(F.lit(1)).over(wp).alias("cnt"),
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("stratum", F.col("n_tokens").alias("median_tokens"))
    )
    agg = sig.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("mean_tokens"),
        F.count_distinct("fp").alias("n_unique_docs"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_dup_docs"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return agg.join(med, "stratum").select(
        F.col("stratum").alias(by),
        "n_docs",
        "n_tokens",
        "mean_tokens",
        "median_tokens",
        "n_unique_docs",
        "n_dup_docs",
        "n_langs",
    )


VOCAB_COVERAGE_THRESHOLDS = (1, 2, 4, 8, 16, 32)


def vocab_coverage(
    df: "DataFrame",
    text_col: str,
    thresholds: tuple[int, ...] = VOCAB_COVERAGE_THRESHOLDS,
) -> "DataFrame":
    """Vocabulary-coverage curve at min-count cutoffs -- the tokenizer
    design question 'if I keep only tokens seen >= c times, how many
    types survive and what share of the token STREAM do they cover?'.
    One row per threshold: (min_count, n_types, n_covered,
    coverage_permille).

    Scale shape: one vocabulary aggregation (shuffle on token), then a
    broadcast of the |thresholds|-row table against the vocab with
    map-side partial aggregation down to |thresholds| groups -- no
    global rank, no single-partition window (a top-V rank formulation
    would need one; the min-count formulation is the same curve
    parameterized by count instead of rank). coverage_permille is
    exact integer permille of the total stream.
    """
    spark = df.sparkSession
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    th = spark.createDataFrame(
        [(int(t),) for t in thresholds], "min_count long"
    )
    total = vocab.agg(F.sum("c").alias("n_stream"))
    per = (
        vocab.crossJoin(F.broadcast(th))
        .groupBy("min_count")
        .agg(
            F.count(F.when(F.col("c") >= F.col("min_count"), 1)).alias("n_types"),
            F.coalesce(
                F.sum(F.when(F.col("c") >= F.col("min_count"), F.col("c"))),
                F.lit(0),
            ).alias("n_covered"),
        )
    )
    return per.crossJoin(F.broadcast(total)).select(
        "min_count",
        "n_types",
        "n_covered",
        F.expr("(n_covered * 1000) div n_stream").alias("coverage_permille"),
    )


def bm25_topk(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    topk: int = 10,
) -> "DataFrame":
    """BM25 document ranking for a fixed query-term set, in exact
    integer arithmetic (Robertson/Sparck-Jones BM25 with k1=1.2,
    b=0.75). Returns the ``topk`` documents as
    (doc_id, n_terms, bm25_micro, rank), rank 1-based in
    (bm25_micro DESC, doc_id) order.

    Determinism contract (plans/registry.py doctrine): the ln() IDF is
    not engine-portable, and floor(log2) collapses the 60-80%% df band
    of this corpus to a single value -- so BOTH BM25 factors are exact
    integer rationals:

      idf_permille  = (1000 * (2N - 2df + 1)) div (2df + 1)
                      (Robertson's (N - df + .5)/(df + .5) with the
                      halves cleared; monotone in df, positive)
      sat_permille  = (22000 * tf * T) div (10*tf*T + 3*T + 9*dl*N)
                      (the k1/b saturation tf*(k1+1) / (tf + k1*(1 -
                      b + b*dl/avgdl)) with avgdl = T/N substituted
                      and denominators cleared: k1=6/5, b=3/4)
      term_score    = idf_permille * sat_permille   ("micro" units)

    Every quantity is a positive BIGINT, so Spark's truncating ``div``
    and DuckDB's flooring ``//`` agree, and the per-document sum is
    order-free. Gate-scale magnitudes stay far under 2^63; at real
    corpus scale (T ~ 10^13) the T and dl*N products must be rescaled
    by a common power of two first -- same resolution, no overflow.

    Scale shape: because the term set is compile-time, the whole read
    path is ONE corpus scan with ZERO corpus-sized shuffles: per-doc
    (dl, tf_0..tf_{|terms|-1}) come from a pure projection
    (tf = size(tokens) - size(array_remove(tokens, term)) -- JVM
    built-ins inside whole-stage codegen, no explode, no doc-keyed
    exchange), the corpus statistics (T, N, every df) are a 1-row
    aggregate broadcast back in, scoring is another projection, and
    the top-k rank window compiles to WindowGroupLimit (each map
    partition forwards <= topk rows). An unbounded / data-dependent
    term set would instead take the classic explode -> (id, tok) agg
    -> broadcast-df join shape at the cost of corpus-sized exchanges.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    nt = len(terms)
    tk = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("tk"),
    )
    stats = tk.select(
        "id",
        F.size("tk").cast("long").alias("dl"),
        *[
            (F.size("tk") - F.size(F.array_remove("tk", str(t))))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    tot = stats.agg(
        F.sum("dl").cast("long").alias("t_all"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long"))
            .cast("long")
            .alias(f"df_{i}")
            for i in range(nt)
        ],
    )
    term_scores = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.expr(f"(1000 * (2*n_docs - 2*df_{i} + 1)) div (2*df_{i} + 1)")
            * F.expr(
                f"(22000 * tf_{i} * t_all) div "
                f"(10*tf_{i}*t_all + 3*t_all + 9*dl*n_docs)"
            ),
        ).otherwise(F.lit(0))
        for i in range(nt)
    ]
    hits = [(F.col(f"tf_{i}") > 0).cast("long") for i in range(nt)]
    scored = stats.crossJoin(F.broadcast(tot)).select(
        "id",
        sum(term_scores[1:], term_scores[0]).cast("long").alias("bm25_micro"),
        sum(hits[1:], hits[0]).cast("long").alias("n_terms"),
    )
    w = Window.orderBy(F.desc("bm25_micro"), "id")
    return (
        scored.filter(F.col("n_terms") > 0)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select(F.col("id").alias("doc_id"), "n_terms", "bm25_micro", "rank")
        .orderBy("rank")
    )


def temperature_mixture(
    df: "DataFrame",
    label_col: str,
    text_col: str,
    budget_div: int = 2,
) -> "DataFrame":
    """Derive a training-mixture allocation across sources with
    temperature alpha = 0.5 (the multilingual/data-mixing rebalance:
    sampling weight proportional to sqrt of the source's token mass,
    which upweights small sources relative to proportional sampling
    without letting the head dominate). Given a token budget of
    total_tokens div ``budget_div``, returns per source
    (n_docs, n_tokens, weight, alloc_tokens, epochs_permille) where
    epochs_permille > 1000 flags a source that would repeat (the
    data-constrained-scaling signal). ``mixture_sample`` is the
    downstream operator that APPLIES rates; this derives them.

    Determinism: weight = floor(sqrt(n_tokens)) — IEEE-754 sqrt is
    correctly rounded in every engine (unlike ln), so the floor is an
    exact integer everywhere; all later arithmetic is integer div on
    positive values (Spark ``div`` == DuckDB ``//``).

    Scale shape: one corpus scan into a label-sized aggregate
    (per-doc token counts are a pure projection); the totals are a
    1-row broadcast; everything downstream is label-sized.
    """
    from ..functions.text import tokens

    per = (
        df.select(
            F.col(label_col).alias("label"),
            F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("tk"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tk").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("t_all"),
        F.sum("weight").cast("long").alias("w_sum"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("label").alias(label_col),
            "n_docs",
            "n_tokens",
            "weight",
            F.expr(f"((t_all div {int(budget_div)}) * weight) div w_sum").alias(
                "alloc_tokens"
            ),
            F.expr(
                f"((((t_all div {int(budget_div)}) * weight) div w_sum) * 1000) "
                "div n_tokens"
            ).alias("epochs_permille"),
        )
        .orderBy(label_col)
    )
