"""Text analysis: tokenization, quality scoring, language ID,
n-gram shingling, document fingerprinting.

All pure column expressions / higher-order functions — no UDFs, so the
whole path stays in whole-stage codegen and scales linearly with no
Python serde.  At 100 TB these run as a single scan-project stage.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pedsnetdcc_spark.util import ensure_parallelism

# tiny per-language stopword lists for the n-gram/stopword heuristic
# language scorer (public-knowledge lists, truncated)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}

DEFAULT_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column | str, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = tuple(DEFAULT_STOPWORDS),
) -> DataFrame:
    """Append quality-signal columns: char/token counts, alpha-token
    count (BPE-ish ``[a-z]+|[0-9]+`` token proxy), punctuation count,
    stopword ratio, and a composite quality score in [0, 1].

    The score blends the classic heuristics (length band, stopword
    presence, low punctuation density) used by public web-scale corpus
    filters; each component is a plain column expression.
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))
    n_alpha = F.regexp_count(F.col(text_col), F.lit("[a-z]+"))
    n_punct = F.regexp_count(F.col(text_col), F.lit("[^a-z0-9 ]"))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    # length band: full credit 20-400 tokens, linear falloff outside
    len_score = (
        F.when(n_tokens >= 20, F.least(F.lit(1.0), F.lit(400.0) / n_tokens))
        .otherwise(n_tokens.cast("double") / 20.0)
    )
    quality = (
        len_score * 0.5
        + F.least(F.lit(1.0), stop_ratio * 4.0) * 0.25
        + (1.0 - F.least(F.lit(1.0), punct_ratio * 10.0)) * 0.25
    )
    return (
        df.withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_alpha_tokens", n_alpha.cast("long"))
        .withColumn("n_punct", n_punct.cast("long"))
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality_score", quality)
    )


# BPE-ish pre-tokenizer (GPT-2 style, simplified to the subset both Java
# regex and RE2 support — no lookahead): contraction suffixes, then
# space-prefixed letter runs, digit runs, and punctuation runs.  On a
# lowercase single-spaced corpus this segments exactly like the GPT-2
# pre-tokenizer minus the trailing-space lookahead rule.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def token_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append token-count columns: whitespace tokens, BPE-ish
    pre-tokenizer segments (:data:`BPE_SPLIT_RE` — the standard proxy
    for LLM token cost when no tokenizer vocab ships with the engine),
    and chars-per-BPE-token (compression ratio; ~4 for English prose,
    lower for code/punctuation-heavy text).

    Pure column expressions — one scan, no UDF, no shuffle.
    """
    df = ensure_parallelism(df)
    ws = F.size(tokens(text_col))
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_RE))
    return (
        df.withColumn("ws_tokens", ws.cast("long"))
        .withColumn("bpe_tokens", bpe.cast("long"))
        .withColumn(
            "chars_per_bpe_token",
            F.when(bpe > 0, F.length(text_col).cast("double") / bpe).otherwise(
                F.lit(0.0)
            ),
        )
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    lang_stopwords: dict[str, list[str]] | None = None,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Stopword-profile language ID: score each language by its stopword
    hit count in the token stream; argmax wins, ties broken by language
    code order.  A deterministic n-gram-free heuristic — the classic
    cheap pre-filter before a model-based identifier.
    """
    df = ensure_parallelism(df)
    langs = lang_stopwords or LANG_STOPWORDS
    toks = tokens(text_col)

    def _hits(sw: list[str]):
        # single-arg lambda: F.filter treats two-arg lambdas as (x, idx)
        return F.size(F.filter(toks, lambda t: t.isin(list(sw))))

    scores = {lang: _hits(sw) for lang, sw in sorted(langs.items())}
    best_score = (
        F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    )
    pick: Column | None = None
    for lang in sorted(scores):  # first max in code order wins ties
        cond = scores[lang] == best_score
        pick = F.when(cond, F.lit(lang)) if pick is None else pick.when(cond, F.lit(lang))
    assert pick is not None
    return df.withColumn(out_col, pick.otherwise(F.lit("und")))


def shingle_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "shingle"
) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, shingle)``.

    Pure higher-order-function formulation: the shingle array is built
    per row with ``transform`` over an index sequence and deduped with
    ``array_distinct`` BEFORE the explode — no shuffle at all for
    shingle generation (an earlier posexplode + window-lead version
    forced a hash exchange on the document id).  Downstream aggregations
    shuffle the (id, shingle) stream as before.
    """
    from pedsnetdcc_spark.util import ensure_parallelism

    df = ensure_parallelism(df)  # small files scan as one split
    # stage the token array through a projection: an unstaged
    # `tokens(text)` referenced inside the transform lambda re-runs the
    # split per shingle × per element_at — the O(tokens²) re-evaluation
    # trap (measured 8-30× on the lm_score bigram build)
    st = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    toks = F.col("__t")
    idx = F.sequence(F.lit(0), F.size(toks) - n)  # inclusive upper bound
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
    )
    sh_arr = F.when(F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )
    return st.select(F.col(id_col), F.explode(sh_arr).alias(out_col))


def doc_fingerprint(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "fingerprint"
) -> DataFrame:
    """Per-document fingerprint: lexicographic min of the md5 hashes of
    its word n-gram shingles (a 1-hash bottom sketch — the degenerate
    winnowing/minhash case; identical docs ⇒ identical fingerprints,
    near-identical docs ⇒ equal with probability ≈ Jaccard).

    A per-ROW aggregate needs no shuffle: the shingle set is built and
    min-hashed inside one array expression, so the whole operator fuses
    into the scan (the earlier explode + groupBy formulation shuffled
    every shingle to re-group what was never ungrouped).  Documents
    with fewer than ``n`` tokens have no shingles and drop out, same
    contract as :func:`shingle_ngrams`.
    """
    df = ensure_parallelism(df)
    # stage the token array first — slice(tokens(text), …) inside the
    # lambda would re-split the text once per shingle (O(tokens²))
    st = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    toks = F.col("__t")
    n_tok = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), n_tok - n + 1),
        lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
    )
    return st.where(n_tok >= n).select(
        F.col(id_col), F.array_min(shingles).alias(out_col)
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with contiguous ids: ``(token, token_count,
    vocab_id)``, ranked by frequency (desc) with the token string as the
    deterministic tie-break — the seeding step for a BPE/word-level
    tokenizer vocabulary.

    Scale shape: one explode + one hash aggregate over the token stream
    (map-side partial agg collapses repeats before the shuffle), then a
    rank over the AGGREGATED vocabulary — which is bounded by
    ``max_size`` / natural-language vocabulary growth (≪ corpus), so
    the single-partition ranking window operates on the small side by
    construction.  For vocabularies past ~10M entries switch the rank
    to ``ids.assign_surrogate_ids(mode="distributed")``.
    """
    df = ensure_parallelism(df)
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .where(F.col("token_count") >= min_count)
    )
    w = Window.orderBy(F.col("token_count").desc(), F.col("token"))
    ranked = counts.withColumn("vocab_id", F.row_number().over(w))
    if max_size is not None:
        ranked = ranked.where(F.col("vocab_id") <= max_size)
    return ranked.select("token", "token_count", "vocab_id")


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    ``score = tf * (ln((N+1)/(df+1)) + 1)``, ties broken by token.
    Returns ``(id, rank, token, tf, score)``.

    The IDF is rounded to ``round_digits`` BEFORE ranking so the
    ordering is reproducible across engines (ln() differs in the last
    ulp between libm implementations; at 1e-6 granularity the ranking
    is a stable function of the integer tf/df inputs).

    Scale shape: tf aggregate (doc-keyed), df aggregate (token-keyed),
    one broadcast of the corpus size, a broadcast-join of per-token df
    back onto the tf stream when the vocabulary is small (AQE decides),
    and a per-document top-k window — all hash-partitioned work, no
    UDFs, no driver collection.
    """
    df = ensure_parallelism(df)
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("token").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n"))
    idf = F.round(
        F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0),
        round_digits,
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.round(F.col("tf") * idf, round_digits))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("tf").cast("long").alias("tf"),
            "score",
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Canonical text normalization for dedup/fingerprint robustness:
    lowercase, strip everything outside ``[a-z0-9 ]``, collapse
    whitespace runs, trim.  Pure column expressions — fuses into the
    scan stage, no shuffle."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return df.withColumn(out_col, F.trim(c))


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "nfc_text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the prerequisite for
    content-hash dedup on web text, where the same string arrives as
    composed vs combining-mark sequences (é = U+00E9 or U+0065+U+0301)
    or compatibility variants (ﬁ ligature, full-width digits); without
    it exact dedup silently treats them as distinct documents.

    Spark has no built-in normalizer, so this is an Arrow-batched
    pandas UDF over ``Series.str.normalize`` (vectorized unicodedata —
    the sanctioned Python path, never row-at-a-time).  Scale shape:
    scan-fused, no shuffle; cost is one pass over the characters.  The
    ``NFC`` form is DuckDB-replayable (``nfc_normalize``), which is how
    a future oracle row replays it; NFKC/NFKD have no DuckDB twin and
    stay unit-tested against python's unicodedata.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return df.withColumn(out_col, norm(F.col(text_col)))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-token windows with optional overlap:
    ``(id, chunk_id, chunk_text, n_chunk_tokens)`` — the
    context-window chunking step for RAG indexing / long-document
    training prep.  Window ``i`` starts at token ``i*(chunk-overlap)``;
    the final window may be short; every token appears in ≥1 chunk.

    Pure higher-order functions: the start-index sequence is built per
    row and exploded — no UDF, no shuffle; chunking is embarrassingly
    parallel and fuses with the scan.
    """
    df = ensure_parallelism(df)
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    # stage the token array before the filter lambda references its
    # size: an unstaged `size(tokens(text))` inside the lambda re-splits
    # the text once per candidate start — O(chunks × tokens) per doc
    staged = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n = F.size(F.col("__toks"))
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)),
        lambda s: s < n,
    )
    exploded = staged.select(
        F.col(id_col),
        F.col("__toks"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


#: Rolling-hash constants for content-defined chunking: token hashes
#: reduce mod 2^20, the window folds with h = (h*B + x) mod M (M the
#: Mersenne prime 2^31−1), so every intermediate fits well inside a
#: 64-bit signed integer in BOTH engines — DuckDB errors on BIGINT
#: overflow where the JVM would wrap silently.
_CDC_TMOD = 1 << 20
_CDC_B = 1_048_573
_CDC_M = 2_147_483_647


def cdc_chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    target_tokens: int = 32,
    window: int = 4,
    hash_family: str = "xxhash64",
    seed: int = 0,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
) -> DataFrame:
    """CONTENT-DEFINED chunking: a chunk boundary falls after token
    ``i`` whenever the hash of the trailing ``window``-token context
    satisfies ``H % target_tokens == 0``, subject to LBFS-style length
    bounds — a boundary is suppressed while the open chunk is shorter
    than ``min_tokens`` (default ``target_tokens // 4``) and forced
    when it reaches ``max_tokens`` (default ``4 * target_tokens``) or
    the document ends.  Expected chunk length is ``target_tokens`` but
    the cut points depend only on LOCAL content.  Same output shape as
    :func:`chunk_documents`: ``(id, chunk_id, chunk_text,
    n_chunk_tokens)``.

    Why it exists: fixed windows are phase-sensitive — a passage
    repeated across documents at different token offsets lands in
    differently-aligned windows and exact passage dedup misses it
    entirely.  Content-defined boundaries re-synchronize inside the
    repeat after ``window`` tokens, so all interior chunks of the
    repeated span match verbatim regardless of offset (the rolling-hash
    chunking of dedup storage systems — LBFS's contribution — applied
    to token streams).  ``passage_dedup(chunking="cdc")`` composes it.

    Why the bounds matter (both failure modes were reproduced before
    they were added): without a minimum, chunk lengths are geometric
    and ~12% of chunks at target 32 are 1–4 common tokens, which
    collide across UNRELATED documents and get deleted as "repeated
    passages" — silent corruption of non-duplicate text; without a
    maximum, a low-entropy run ("x x x …") has one constant window
    hash, so the boundary test either fires everywhere (min now stops
    it) or never — an unbounded whole-document chunk.

    Scale shape: one sequential fold per document over pre-hashed
    tokens (the length constraints make boundary choice inherently
    sequential — each cut depends on the previous one), then the same
    start/end pairing + ``posexplode`` + slice as
    :func:`chunk_documents`; everything fuses into the scan, no
    shuffle, no UDF.  ``hash_family="portable"`` switches the rolling
    hash to the md5-derived family DuckDB can replay for oracle
    checks; production defaults to the cheaper xxhash64.
    """
    df = ensure_parallelism(df)
    from pedsnetdcc_spark.datapipe.dedup import _seeded_hash

    if window < 1 or target_tokens < 2:
        raise ValueError("need window >= 1 and target_tokens >= 2")
    min_tokens = target_tokens // 4 if min_tokens is None else min_tokens
    max_tokens = 4 * target_tokens if max_tokens is None else max_tokens
    if not 1 <= min_tokens <= max_tokens:
        raise ValueError("need 1 <= min_tokens <= max_tokens")
    toks = tokens(text_col)
    n = F.size(toks)

    # Boundary decision = polynomial rolling hash over PRE-HASHED
    # tokens: each token hashes once (mod 2^20 so products stay far
    # from 64-bit overflow, which Java wraps silently but DuckDB
    # REJECTS — the modular arithmetic is what keeps the oracle
    # replayable), then each position folds its w-token window with
    # h = (h*B + x) mod M.  Building the window STRING per position
    # and md5-ing it measured 2.8 s for the chunker alone at sf0.1 —
    # higher-order lambdas are interpreted per element, so per-token
    # string allocation dominates; the numeric fold is ~5×cheaper.
    staged0 = df.where(n >= 1).select(
        F.col(id_col),
        toks.alias("__toks"),
        F.transform(
            toks,
            lambda t: F.pmod(_seeded_hash(t, seed, hash_family), F.lit(_CDC_TMOD)),
        ).alias("__th"),
    )
    n2 = F.size(F.col("__th"))

    def win_hash(i):  # polynomial hash of the window ending at 1-based i
        return F.aggregate(
            F.slice(F.col("__th"), i - window + 1, window),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * _CDC_B + x, F.lit(_CDC_M)),
        )

    # Sequential greedy fold (the length bounds make each cut depend on
    # the previous one): cut after token i when the open chunk has at
    # least min_tokens AND the window hash fires, or the chunk reached
    # max_tokens, or the document ends (final chunk may be short).
    def step(acc, i):
        cur_len = i - acc.last
        cut = (
            (
                (cur_len >= min_tokens)
                & (i >= window)
                & (F.pmod(win_hash(i), F.lit(target_tokens)) == 0)
            )
            | (cur_len >= max_tokens)
            | (i == n2)
        )
        return F.when(
            cut,
            F.struct(
                F.concat(acc.ends, F.array(i)).alias("ends"), i.alias("last")
            ),
        ).otherwise(F.struct(acc.ends.alias("ends"), acc.last.alias("last")))

    ends = F.aggregate(
        F.sequence(F.lit(1), n2),
        F.struct(
            F.array().cast("array<int>").alias("ends"),
            F.lit(0).alias("last"),
        ),
        step,
        lambda acc: acc.ends,
    )
    # Stage the boundary array through a projection BEFORE deriving the
    # start positions from it: referencing the `ends` expression inside
    # the starts lambda would re-evaluate the whole boundary fold per
    # element (O(chunks × tokens) rolling hashes per document — this
    # exact mistake measured 21 s vs 2 s at sf0.1); a projected column
    # is computed once per row and the lambda then only indexes it.
    staged = staged0.select(F.col(id_col), "__toks", ends.alias("__ends"))
    starts = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__ends"))),
        lambda k: F.when(k == 1, F.lit(1)).otherwise(
            F.element_at(F.col("__ends"), k - 1) + 1
        ),
    )
    exploded = staged.select(
        F.col(id_col),
        "__toks",
        F.posexplode(
            F.arrays_zip(starts.alias("s"), F.col("__ends").alias("e"))
        ).alias("chunk_id", "__se"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("__se.s"), F.col("__se.e") - F.col("__se.s") + 1
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


# RE2-safe PII patterns (no lookarounds — portable across Java regex,
# RE2, and DuckDB's regexp engine); public-knowledge shapes only
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted_text",
    patterns: Sequence[tuple[str, str]] = tuple(PII_PATTERNS),
) -> DataFrame:
    """Replace PII-shaped substrings (email / phone / SSN) with typed
    placeholder tokens — the scrubbing pass of corpus preparation.
    Chained ``regexp_replace`` column expressions: scan-fused, no UDF,
    no shuffle; patterns are RE2-safe so the operation is reproducible
    across engines."""
    df = ensure_parallelism(df)
    c = F.col(text_col)
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col, c)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    max_n: int = 3,
) -> DataFrame:
    """Per-document duplicate-n-gram fractions for n = 1..``max_n``:
    ``dup_frac_n = 1 − distinct_ngrams/total_ngrams`` — the repetition
    signals behind public web-corpus quality filters (heavily repeated
    n-grams mark boilerplate/spam/degenerate text).

    Entirely per-row array expressions (build the n-gram array, compare
    its size against ``array_distinct``): one scan, no explode, no
    shuffle — at 100 TB this fuses into the projection like the other
    quality signals."""
    df = ensure_parallelism(df)
    # stage the token array in a real column: element_at on an unstaged
    # `tokens(text)` inside the transform lambda re-splits the text per
    # n-gram — O(tokens²) per doc (the lm_score re-evaluation trap)
    staged = df.withColumn("__rep_toks", tokens(text_col))
    toks = F.col("__rep_toks")

    def _gram_fn(k: int):
        # single-parameter lambda: F.transform treats two-parameter
        # lambdas (incl. defaulted ones) as the (element, index) form
        return lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        )

    out = staged
    for n in range(1, max_n + 1):
        if n == 1:
            grams = toks
        else:
            idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
            grams = F.when(
                F.size(toks) >= n, F.transform(idx, _gram_fn(n))
            ).otherwise(F.array().cast("array<string>"))
        total = F.size(grams)
        dup = F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(grams)).cast("double") / total,
        ).otherwise(F.lit(0.0))
        out = out.withColumn(f"dup_frac_{n}", dup)
    return out.drop("__rep_toks")


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    token_col: str = "token",
) -> DataFrame:
    """Corpus coverage of a vocabulary: ONE row ``(covered_tokens,
    total_tokens, oov_types)`` — how many corpus token occurrences the
    vocabulary covers and how many distinct out-of-vocabulary types
    remain.  The Zipf head/tail accounting that sizes a tokenizer
    vocabulary.

    Integer-exact (counts, no ratios — divide downstream if wanted).
    One explode + one token-keyed aggregate joined against the (small,
    broadcast-able) vocabulary.
    """
    df = ensure_parallelism(df)
    occurrences = (
        df.select(F.explode(tokens(text_col)).alias(token_col))
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("__occ"))
    )
    joined = occurrences.join(
        vocab.select(token_col).withColumn("__in", F.lit(1)), token_col, "left"
    )
    return joined.agg(
        F.sum(F.when(F.col("__in").isNotNull(), F.col("__occ")).otherwise(F.lit(0)))
        .alias("covered_tokens"),
        F.sum("__occ").alias("total_tokens"),
        F.count(F.when(F.col("__in").isNull(), 1)).alias("oov_types"),
    )


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "length_bucket",
) -> DataFrame:
    """Power-of-two token-length bucket per document
    (``floor(log2(n_tokens))``): the standard grouping for
    padding-efficient batch construction — sequences in a bucket are
    within 2× of each other, so per-batch padding waste is bounded.
    Pure column expression; deterministic across engines (log2 of an
    integer never lands within rounding distance of an integer except
    at exact powers of two, where it is IEEE-exact)."""
    n = F.size(tokens(text_col))
    bucket = F.floor(F.log2(F.greatest(n, F.lit(1)).cast("double")))
    return df.withColumn(out_col, bucket.cast("int"))


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: Sequence[str] = tuple(DEFAULT_STOPWORDS),
) -> DataFrame:
    """Gopher-style rule-based quality filter (the published heuristic
    document filter of Rae et al. 2021, App. A1, reused by MassiveText
    descendants): per-document rule signals plus a single
    ``passes_gopher`` verdict.  Line-shape rules (bullet/ellipsis line
    ratios) are omitted — this corpus has no line structure.

    Rules: word count in [min_words, max_words]; mean word length in
    [min, max] (computed as (chars − spaces)/words on the single-spaced
    corpus — exact, no second pass over the tokens); symbol-to-word
    ratio ('#' or '...' occurrences per word) ≤ cap; ≥80% of words
    contain an alphabetic character; ≥2 stop-word hits.

    Pure column arithmetic (counts and ratios, no transcendentals), so
    the verdicts are exactly reproducible by any engine — scan-fused,
    no shuffle, no UDF.
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n = F.size(toks)
    nd = n.cast("double")
    mean_wl = F.when(
        n > 0, (F.length(text_col) - (n - 1)).cast("double") / nd
    ).otherwise(F.lit(0.0))
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.")).cast("double")
    sym_ratio = F.when(n > 0, n_sym / nd).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.when(n > 0, n_alpha_words.cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))
    passes = (
        (n >= min_words)
        & (n <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (n_stop >= min_stopword_hits)
    )
    return (
        df.withColumn("n_words", n.cast("long"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_ratio", sym_ratio)
        .withColumn("alpha_word_ratio", alpha_ratio)
        .withColumn("stopword_hits", n_stop.cast("long"))
        .withColumn("passes_gopher", passes)
    )


def hashed_bow(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    dim: int = 512,
    seed: int = 0,
    hash_family: str = "portable",
    norm: str = "l2",
) -> DataFrame:
    """Feature-hashing (hashing-trick) bag-of-words: each token hashes
    to one of ``dim`` buckets; per-document bucket term frequencies,
    optionally L2-normalized — the model-free document featurizer that
    bridges the text operators to the embedding/ANN operators when no
    learned embedding exists yet.  Long-form output ``(id, bucket, tf,
    weight)``; densify with :func:`hashed_bow_dense` to feed
    ``cosine_topk`` / LSH / IVF.

    Determinism: the bucket is a pure function of (token, seed) via the
    seeded hash family (oracle-renderable with ``portable``); the L2
    weight is ``tf / sqrt(Σ tf²)`` — IEEE sqrt and division are
    exactly-rounded operations, so the doubles are bit-identical across
    engines with no rounding step (unlike ln/exp paths).

    Scale shape: explode → (id, bucket) count aggregate (map-side
    partial), one doc-keyed norm aggregate joined back on the id — two
    shuffles total, both on high-cardinality keys, no windows, no UDFs.
    """
    df = ensure_parallelism(df)
    if norm not in ("l2", "none"):
        raise ValueError(f"unknown norm {norm!r}")
    from pedsnetdcc_spark.datapipe.dedup import _seeded_hash

    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    tf = (
        toks.withColumn(
            "bucket",
            F.pmod(_seeded_hash(F.col("__tok"), seed, hash_family), F.lit(dim)).cast(
                "int"
            ),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    if norm == "none":
        return tf.withColumn("weight", F.col("tf").cast("double"))
    norms = tf.groupBy(id_col).agg(F.sum(F.col("tf") * F.col("tf")).alias("__ss"))
    return tf.join(norms, id_col).select(
        F.col(id_col),
        "bucket",
        "tf",
        (F.col("tf").cast("double") / F.sqrt(F.col("__ss").cast("double"))).alias(
            "weight"
        ),
    )


def hashed_bow_dense(
    bow: DataFrame, id_col: str, dim: int, out_col: str = "embedding"
) -> DataFrame:
    """Densify :func:`hashed_bow` long-form output into a fixed-``dim``
    ``array<float>`` per document (empty buckets 0.0) — the shape the
    similarity operators take.  One doc-keyed aggregate building a
    bucket→weight map, then a scan-side sequence lookup; no UDFs."""
    bow = ensure_parallelism(bow)
    entries = bow.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("weight")))
        ).alias("__m")
    )
    return entries.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0.0)).cast(
                "float"
            ),
        ).alias(out_col),
    )


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    model_df: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — the
    perplexity-style quality signal of CCNet-class corpus pipelines
    (Wenzek et al. 2020 score documents with a KenLM model; here the
    model is an add-one-smoothed bigram LM counted from ``model_df``,
    default the scored corpus itself, so the signal is a
    self-perplexity: formulaic/repetitive documents score high
    probability, outlier gibberish scores low).

    Per document of tokens ``w_1..w_n`` the per-term log-probabilities
    are ``ln((c1(w_1)+1)/(T+V))`` for the first token and
    ``ln((c2(w_{i-1},w_i)+1)/(c1(w_{i-1})+V))`` for each following
    token, where ``c1``/``c2`` are corpus unigram/bigram counts, ``T``
    total tokens and ``V`` vocabulary size.  Each term is rounded to
    ``round_digits`` and ACCUMULATED IN DECIMAL, so the per-document
    sum is exact and order-independent (double summation is
    associativity-sensitive; ln() differs in the last ulp across libm
    implementations, which the rounding absorbs — same determinism
    contract as :func:`tfidf_top_terms`).

    Returns ``(id, n_tokens, sum_logp, avg_logp)``.

    Scale shape: two token-keyed count aggregates (map-side partial),
    a 1-row totals broadcast, and count→stream equi-joins on token keys
    that AQE broadcasts while the vocabulary is small — no UDFs, no
    windows, no driver actions.  The bigram stream is built scan-side
    from the token array (no self-join on position), and the scored
    side is PRE-AGGREGATED to per-document bigram term frequencies
    before the count joins: every occurrence of a bigram within a doc
    carries the identical rounded log-prob, so ``m * round(lp)`` summed
    in decimal equals the per-occurrence sum exactly.  Two wins: when
    the model is the scored corpus the corpus bigram counts derive FROM
    the same pre-aggregate (one bigram explode+shuffle instead of two —
    the dominant saving, 7.9→3.4 s at sf0.1), and the count joins carry
    distinct (doc, bigram) rows instead of every occurrence (a further
    factor equal to the corpus's bigram repetition rate — ~1.04× on the
    synthetic harness corpus, far higher on natural web text).
    Smoothing makes every join an inner join on keys guaranteed present
    when the model corpus covers the scored corpus; scoring a foreign
    corpus drops unseen tokens from the stream (documented OOV
    behavior: use the combined corpus as ``model_df`` to avoid it).

    Cache contract: the staged token tables of ``df`` (and of
    ``model_df``, if given) are ``.cache()``-d and stay cached after the
    call, because the returned DataFrame is lazy and still reads them.
    Each call adds its own; they are freed only when the caller runs
    ``spark.catalog.clearCache()`` after its last action on the result.
    """
    df = ensure_parallelism(df)

    def _staged(src: DataFrame, with_id: bool) -> DataFrame:
        # STAGE the token array through a projection before indexing
        # into it: referencing `tokens(text)` inside a per-element
        # lambda re-evaluates the split for EVERY element (the same
        # O(tokens²) re-evaluation trap the CDC chunker dodges);
        # measured 21 s → 0.7 s for the bigram build at the 10× probe
        # point.
        cols = [F.col(id_col)] if with_id else []
        return src.select(*cols, tokens(text_col).alias("__a"))

    def _streams(st: DataFrame, with_id: bool):
        # Bigrams come from one arrays_zip of two slices — a single
        # pass, no per-element element_at.
        cols = [F.col(id_col)] if with_id else []
        a = F.col("__a")
        cnt = F.size(a)
        uni = st.select(*cols, F.explode(a).alias("w"))
        bi = st.select(
            *cols,
            F.explode(
                F.arrays_zip(
                    F.slice(a, 1, F.greatest(cnt - 1, F.lit(0))).alias("w1"),
                    F.slice(a, 2, F.greatest(cnt - 1, F.lit(0))).alias("w2"),
                )
            ).alias("p"),
        ).select(*cols, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        return uni, bi

    # TOKENIZE ONCE (round-14, guide §5: reuse beats recompute): the
    # scored corpus feeds THREE streams (bigram terms, the first-token
    # term, and — when the model is the corpus itself — the unigram
    # counts), and without materialization each stream re-runs the
    # regexp split scan (the profile measured 3-4 separate
    # scan+tokenize stage sets per run; exchange reuse cannot fold
    # them because the branch projections differ).  The staged token
    # table is cached and every stream derives from it — one tokenize
    # pass; it stays cached until the caller clears the cache (see the
    # docstring's cache contract).
    st = _staged(df, with_id=True).cache()
    a = F.col("__a")
    d_bi = _streams(st, with_id=True)[1]
    d_bi_tf = d_bi.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    if model_df is None:
        # model == scored corpus: derive the model counts FROM the
        # per-doc pre-aggregate (one bigram shuffle feeds both) and
        # the unigram counts from the SAME cached token table
        m_uni = _streams(st, with_id=False)[0]
        c1 = m_uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
        c2 = d_bi_tf.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    else:
        # foreign model: its token table feeds two streams (uni + bi)
        # — stage and cache it once for the same reason as ``st``
        mst = _staged(model_df, with_id=False).cache()
        m_uni, m_bi = _streams(mst, with_id=False)
        c1 = m_uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
        c2 = m_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    totals = c1.agg(
        F.sum("c1").cast("double").alias("t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )

    first = st.where(F.size(a) >= 1).select(
        F.col(id_col), F.element_at(a, 1).alias("w")
    )
    d_uni_first = (
        first.join(c1, "w")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.lit(1).cast("long").alias("m"),
            F.round(
                F.log((F.col("c1") + F.lit(1)).cast("double") / (F.col("t") + F.col("v"))),
                round_digits,
            ).alias("lp"),
        )
    )
    d_bi_terms = (
        d_bi_tf.join(c2, ["w1", "w2"])
        .join(c1, F.col("w1") == c1["w"])
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("m").cast("long").alias("m"),
            F.round(
                F.log(
                    (F.col("c2") + F.lit(1)).cast("double")
                    / (F.col("c1").cast("double") + F.col("v"))
                ),
                round_digits,
            ).alias("lp"),
        )
    )
    dec = f"decimal(28,{round_digits})"
    per_doc = (
        d_uni_first.unionByName(d_bi_terms)
        .groupBy(id_col)
        .agg(
            F.sum("m").cast("long").alias("n_tokens"),
            F.sum(F.col("lp").cast(dec) * F.col("m")).cast("double").alias("sum_logp"),
        )
    )
    return per_doc.withColumn(
        "avg_logp",
        F.round(F.col("sum_logp") / F.col("n_tokens").cast("double"), round_digits),
    )
