"""Text-analysis operators (SURVEY §2.6 X3) — all JVM-side built-in
functions (split/regexp/aggregate), no Python UDFs in the hot path, so
whole-stage codegen covers the full pipeline and the operators scale
linearly with input splits."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_grams_sql

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "est", "les"),
    "de": ("der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "den"),
}

_TOKEN_RE = r"[a-z]+|[A-Z]+|[0-9]+"  # BPE-ish: letter runs / digit runs


def _words(text_col):
    return F.filter(F.split(text_col, r"\s+"), lambda w: w != "")


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: highest stopword-hit ratio wins; below
    2% coverage → 'unknown'. Output (id, lang_pred, best_ratio)."""
    words = _words(F.lower(F.col(text_col)))
    n = F.size(words)
    ratios = {
        lang: F.size(F.filter(words, lambda w: w.isin(*sw))) / F.greatest(n, F.lit(1))
        for lang, sw in STOPWORDS.items()
    }
    best_ratio = F.greatest(*ratios.values())
    pred = F.lit("unknown")
    for lang in reversed(list(ratios)):  # earlier langs win ties
        pred = F.when(ratios[lang] == best_ratio, F.lit(lang)).otherwise(pred)
    pred = F.when(best_ratio >= 0.02, pred).otherwise(F.lit("unknown"))
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        best_ratio.cast("double").alias("best_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document quality heuristics: length, mean word length,
    punctuation ratio, stopword ratio, alnum ratio, and a composite
    score in [0,1]. Mirrors common LLM-corpus filters (C4/Gopher
    rules)."""
    t = F.col(text_col)
    words = _words(t)
    n_words = F.size(words)
    n_chars = F.length(t)
    mean_wlen = F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    sw = STOPWORDS["en"]
    stop_ratio = F.size(
        F.filter(F.split(F.lower(t), r"\s+"), lambda w: w.isin(*sw))
    ) / F.greatest(n_words, F.lit(1))
    alnum_ratio = F.length(F.regexp_replace(t, r"[^A-Za-z0-9 ]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, 0.25).otherwise(0.0)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars_m"),
        mean_wlen.cast("double").alias("mean_word_len"),
        punct_ratio.cast("double").alias("punct_ratio"),
        stop_ratio.cast("double").alias("stopword_ratio"),
        alnum_ratio.cast("double").alias("alnum_ratio"),
        score.cast("double").alias("quality_score"),
    )


def filter_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 10,
    max_words: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    min_stop_ratio: float = 0.01,
    max_top_word_ratio: float = 0.15,
) -> DataFrame:
    """Gopher/C4-style rule-tagged corpus filtering: each rule is a
    named boolean column so a pipeline can report WHY documents were
    dropped, not just how many (per-rule rejection stats are one
    groupBy away). The reference's engine has no corpus surface; the
    rules mirror the published Gopher heuristics (word count bounds,
    mean word length, symbol ratio, stopword presence) plus a
    most-frequent-word concentration cap (boilerplate/spam signal).

    Everything is built-in higher-order functions over one projected
    word array — single pass, whole-stage codegen, no shuffle: at
    100 TB this filter runs at scan speed and its selectivity column
    (`keep`) pushes into downstream scans when persisted as a
    partition or stats column.
    """
    words = _words(F.col(text_col))
    t = F.col("__t")  # post-projection names: text/words bound ONCE below
    w = F.col("__w")
    n_words = F.size(w)
    n_chars = F.length(t)
    mean_wlen = F.aggregate(w, F.lit(0.0), lambda a, x: a + F.length(x)) / F.greatest(
        n_words, F.lit(1)
    )
    punct_ratio = F.length(
        F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}]", "")
    ) / F.greatest(n_chars, F.lit(1))
    sw = STOPWORDS["en"]
    stop_ratio = F.size(
        F.filter(F.transform(w, F.lower), lambda x: x.isin(*sw))
    ) / F.greatest(n_words, F.lit(1))
    # most-frequent-word share: count each DISTINCT word once against
    # the full array — quadratic in per-doc vocabulary but entirely
    # row-local (no shuffle) and codegen'd; documents cap vocab, not
    # corpus size, so this does not grow with the 100 TB corpus
    top_ratio = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda d: F.size(F.filter(w, lambda x: x == d)),
        )
    ).cast("double") / F.greatest(n_words, F.lit(1))
    flags = df.select(
        F.col(id_col), F.col(text_col).alias("__t"), words.alias("__w")
    ).select(
        F.col(id_col),
        (n_words >= min_words).alias("pass_min_words"),
        (n_words <= max_words).alias("pass_max_words"),
        mean_wlen.between(min_mean_word_len, max_mean_word_len).alias(
            "pass_word_len"
        ),
        (punct_ratio <= max_punct_ratio).alias("pass_punct"),
        (stop_ratio >= min_stop_ratio).alias("pass_stopword"),
        (F.coalesce(top_ratio, F.lit(0.0)) <= max_top_word_ratio).alias(
            "pass_repetition"
        ),
    )
    keep = (
        F.col("pass_min_words")
        & F.col("pass_max_words")
        & F.col("pass_word_len")
        & F.col("pass_punct")
        & F.col("pass_stopword")
        & F.col("pass_repetition")
    )
    return flags.withColumn("keep", keep)


def filter_report(flags: DataFrame) -> DataFrame:
    """Aggregate a filter_corpus frame into one stats row: total docs,
    kept docs, and per-rule failure counts (a doc failing two rules
    counts in both — the per-rule columns answer 'what would relaxing
    this rule recover'). One map-side-combined groupBy of booleans."""
    rules = [c for c in flags.columns if c.startswith("pass_")]
    aggs = [F.count(F.lit(1)).alias("n_docs"), F.sum(F.col("keep").cast("long")).alias("n_kept")]
    aggs += [
        F.sum((~F.col(c)).cast("long")).alias(c.replace("pass_", "fail_"))
        for c in rules
    ]
    return flags.agg(*aggs)


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens
    (letter/digit runs), distinct whitespace tokens, chars/token."""
    t = F.col(text_col)
    ws_tokens = _words(t)
    bpe_tokens = F.regexp_extract_all(t, F.lit(_TOKEN_RE), 0)
    return df.select(
        F.col(id_col),
        F.size(ws_tokens).cast("long").alias("n_ws_tokens"),
        F.size(bpe_tokens).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(ws_tokens)).cast("long").alias("n_distinct_tokens"),
        (F.length(t) / F.greatest(F.size(ws_tokens), F.lit(1)))
        .cast("double")
        .alias("chars_per_token"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (lowercase,
    collapsed whitespace) plus a 64-bit-style short key (first 16 hex
    chars) for bucketing — the rolling-hash analog built from sorted
    distinct words so token order doesn't break near-identical docs."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    sorted_words = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("content_md5"),
        F.substring(F.md5(norm), 1, 16).alias("short_key"),
        F.md5(sorted_words).alias("bag_md5"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget_tokens: int = 512,
    n_shards: int = 64,
) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    fixed-token-budget packs by sequential chunking — each doc's pack
    is floor(cumulative-tokens-before-it / budget) within its shard,
    ordered by id. A pack may overrun the budget by at most one doc
    (streaming-packer semantics: a doc is never split).

    Sharding (id % n_shards) bounds the window partition so the
    cumulative sum never funnels 100 TB through one task — packing is
    global-enough per shard, embarrassingly parallel across shards,
    deterministic, and plain-SQL oracle-checkable.

    Output: (doc_id, shard, n_tokens, pack_id).
    """
    tokens = F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    ).cast("long")
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
        tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.withColumn(
        "pack_id", F.floor(cum_before / F.lit(float(budget_tokens))).cast("long")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF
    (tf × ln((N+1)/(df+1))) — pure aggregates + one window, fully
    oracle-expressible (no hashing-trick UDF needed at any scale:
    the term vocabulary shuffles on the term key, doc-frequency is a
    map-side-combined count, and N broadcasts as a 1-row literal).

    Output: (doc_id, term, tf, df_docs, tfidf, rank).
    """
    words = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda w: w != "",
            )
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    # corpus size as a broadcast 1-row crossJoin, NOT a driver
    # collect(): keeps the op one lazy plan (no extra job, composable
    # downstream)
    n_docs = df.select(F.countDistinct(F.col(id_col)).cast("double").alias("__n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("__n_docs") + 1.0) / (F.col("df_docs") + 1.0)),
        )
        .drop("__n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id", "term", "tf", "df_docs",
            F.col("tfidf").cast("double").alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters: fraction of duplicate word
    2-grams, fraction of duplicate words, and the mass of the single
    most frequent word — the standard "is this document degenerate
    boilerplate?" pretraining signals.

    Shape: the array-side ratios (dup words / dup 2-grams) are pure
    per-row expressions (split/transform/array_distinct — whole-stage
    codegen, zero shuffle); the top-word mass needs a per-(doc, word)
    count, which explodes and re-aggregates with map-side partial
    combine — one shuffle on doc_id, no skew (doc_id is unique).

    Output: (doc_id, n_words, dup_word_ratio, dup_2gram_ratio,
    top_word_ratio).
    """
    # bind the word array as a projected attribute — codegen does no
    # CSE across lambda boundaries, so inline use would re-split the
    # text once per gram (see xops/dedup.word_grams_sql)
    wdf = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _words(F.lower(F.col(text_col))).alias("__words"),
    )
    words = F.col("__words")
    n_words = F.size(words)
    grams2 = F.coalesce(
        F.expr(word_grams_sql("__words", 2)),
        F.expr("CAST(array() AS array<string>)"),
    )
    gdf = wdf.select(F.col("doc_id"), words, grams2.alias("__g2"))
    g2 = F.col("__g2")
    n_g2 = F.size(g2)
    base = gdf.select(
        F.col("doc_id"),
        n_words.cast("long").alias("n_words"),
        ((n_words - F.size(F.array_distinct(words)))
         / F.greatest(n_words, F.lit(1))).cast("double").alias("dup_word_ratio"),
        ((n_g2 - F.size(F.array_distinct(g2)))
         / F.greatest(n_g2, F.lit(1))).cast("double").alias("dup_2gram_ratio"),
    )
    exploded = wdf.select("doc_id", F.explode(words).alias("word"))
    top = (
        exploded.groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_word_cnt"), F.sum("cnt").alias("tot"))
        .select(
            "doc_id",
            (F.col("top_word_cnt") / F.col("tot")).cast("double").alias("top_word_ratio"),
        )
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id", "n_words", "dup_word_ratio", "dup_2gram_ratio",
        F.coalesce("top_word_ratio", F.lit(0.0)).cast("double").alias("top_word_ratio"),
    )


# conservative patterns chosen for cross-engine (Java regex / RE2)
# parity — verified byte-identical behavior on both
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    email_token: str = "<EMAIL>",
    url_token: str = "<URL>",
) -> DataFrame:
    """Pretraining text hygiene: redact emails and URLs with
    placeholder tokens and count what was removed. URLs are scrubbed
    FIRST (a URL may carry userinfo `u:p@host` that the email pattern
    would half-match); emails are then counted on the URL-scrubbed
    text. Pure regexp_replace/extract_all — whole-stage codegen, zero
    shuffle, linear in input bytes.

    Output: (doc_id, n_urls, n_emails, clean_text).
    """
    t = F.col(text_col)
    no_urls = F.regexp_replace(t, URL_RE, url_token)
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0)).cast("long").alias("n_urls"),
        no_urls.alias("__no_urls"),
    )
    return base.select(
        "doc_id",
        "n_urls",
        F.size(F.regexp_extract_all(F.col("__no_urls"), F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.regexp_replace(F.col("__no_urls"), EMAIL_RE, email_token).alias("clean_text"),
    )


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    strip_accents: bool = False,
    lowercase: bool = False,
    collapse_ws: bool = False,
) -> DataFrame:
    """Unicode normalization for corpus hygiene: canonical form
    (NFC/NFKC/NFD/NFKD), optional accent stripping (NFD → drop
    combining marks → re-compose), lowercase, and whitespace collapse.

    Spark has no Unicode-normalizer builtin, so the normalize step is
    an Arrow-batched pandas UDF (the only Python in the op — a pure
    per-row codepoint map, linear in bytes, no shuffle); lowercase and
    whitespace collapse stay JVM-side so codegen fuses them with
    downstream projections. Parity: NFD-strip-combining matches
    DuckDB's strip_accents on Latin text (é→e, ü→u, ñ→n), which is the
    SQL oracle for x67.

    Output: (doc_id, norm_text).
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_text: unknown form {form!r}")
    from pyspark.sql.functions import pandas_udf

    def _norm_fn(s):
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if strip_accents:
                y = "".join(
                    c for c in unicodedata.normalize("NFD", y)
                    if not unicodedata.combining(c)
                )
                y = unicodedata.normalize(form, y)
            return y

        return s.map(one)

    # annotations set explicitly: this module uses postponed
    # annotations and pandas is not a module-level import here, so an
    # inline `s: pd.Series` hint would not resolve for pandas_udf
    import pandas as pd

    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _norm = pandas_udf(_norm_fn, "string")

    out = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _norm(F.col(text_col)).alias("norm_text"),
    )
    col = F.col("norm_text")
    if lowercase:
        col = F.lower(col)
    if collapse_ws:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    if lowercase or collapse_ws:
        out = out.select("doc_id", col.alias("norm_text"))
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the context-window splitting step of a RAG / pretraining pipeline
    (a doc longer than the model window becomes ceil((len-overlap)/
    step) chunks of `size` chars stepping by size-overlap; short docs
    yield exactly one chunk; chunk boundaries carry offsets so spans
    map back to the source).

    Pure sequence+explode+substring — no shuffle, no Python, and the
    explode factor is len/step per row, so output bytes ≈ input bytes
    × size/step regardless of cluster size. Token-based chunking is
    this same shape with the words array (slice instead of substring).

    NULL text yields exactly one chunk with NULL chunk_text (greatest
    skips NULLs in Spark AND DuckDB, verified) — documents are never
    silently dropped from the output.

    Output: (doc_id, chunk_idx, char_start, chunk_text).
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(float(step))),
    ).cast("long")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col(text_col).alias("__t"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * step).cast("long").alias("char_start"),
        F.substring(F.col("__t"), F.col("chunk_idx") * step + 1, size).alias(
            "chunk_text"
        ),
    )


def top_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-level n-gram frequency table (top k): the raw material
    for contamination analysis, boilerplate detection, and quality
    dashboards. Counts every occurrence (not per-doc distinct).

    Shape: per-row n-gram arrays are built JVM-side
    (dedup.word_grams_sql over the bound word array), exploded, and
    counted in ONE partial-aggregated groupBy; top-k is a global sort
    of the (distinct n-gram) aggregate, which is tiny relative to the
    corpus. Deterministic tiebreak: count DESC, ngram ASC.

    Output: (ngram, n_docs, occurrences).
    """
    # NOT dedup.shingles_of — that is array_distinct'd (per-doc
    # membership); a frequency table needs every occurrence
    exploded = df.select(
        F.col(id_col).alias("__id"), _words(F.col(text_col)).alias("__words")
    ).select("__id", F.explode(F.expr(word_grams_sql("__words", n))).alias("ngram"))
    return (
        exploded.groupBy("ngram")
        .agg(
            F.countDistinct("__id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("occurrences"),
        )
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(k)
    )


def token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Each document's [tok_start, tok_end) span in the concatenated
    corpus token stream, ordered by id — the coordinate system of
    GPT-style pretraining packing. tok_start is an EXCLUSIVE global
    prefix sum of per-doc token counts, computed with the distributed
    cumsum primitive (range exchange + Arrow local prefix + broadcast
    partition totals — sampling.with_global_cumsum), never a
    single-task global window.

    Output: (doc_id, n_tokens, tok_start).
    """
    from .sampling import with_global_cumsum

    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return with_global_cumsum(
        base, "doc_id", value_col="n_tokens", out_col="tok_start",
        num_partitions=num_partitions,
    )


def split_pack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 512,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing WITH document splitting: the corpus
    token stream (docs concatenated in id order) is cut every
    `seq_len` tokens; a doc spanning a cut contributes a slice to each
    side. Complements pack_sequences (which never splits a doc and
    allows overrun): here every sequence is exactly seq_len tokens
    (except the final one) and no padding is wasted — the standard
    pretraining tradeoff.

    Per doc, the covered sequence ids are floor(tok_start/L) ..
    floor((tok_end-1)/L) — a sequence+explode fan-out of
    (n_tokens/L + 1) rows per doc, no further shuffle after the
    cumsum's range exchange. Slice offsets are in DOC token
    coordinates so a tokenizer can cut the text locally.

    Output: (seq_id, doc_id, slice_start, slice_end) with
    slice tokens = doc tokens [slice_start, slice_end); empty docs
    yield no rows.
    """
    spans = token_spans(df, id_col, text_col, num_partitions=num_partitions)
    L = seq_len
    first = F.floor(F.col("tok_start") / L).cast("long")
    last = F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / L).cast("long")
    return (
        spans.where(F.col("n_tokens") > 0)
        .select(
            "doc_id", "n_tokens", "tok_start",
            F.explode(F.sequence(first, last)).alias("seq_id"),
        )
        .select(
            "seq_id",
            "doc_id",
            F.greatest(F.lit(0), F.col("seq_id") * L - F.col("tok_start"))
            .cast("long")
            .alias("slice_start"),
            F.least(
                F.col("n_tokens"), (F.col("seq_id") + 1) * L - F.col("tok_start")
            )
            .cast("long")
            .alias("slice_end"),
        )
    )


def chunk_documents_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Token-window variant of chunk_documents: overlapping chunks of
    `size` whitespace tokens stepping by size-overlap — the unit most
    model-context budgets are denominated in. Same zero-shuffle
    sequence+explode shape; the words array is bound as a projected
    column FIRST so the split isn't re-evaluated per chunk
    (projection collapse would inline it into every slice — the
    shingles_of lesson).

    Output: (doc_id, chunk_idx, tok_start, chunk_text).
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    bound = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _words(F.col(text_col)).alias("__w"),
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("__w") - F.lit(overlap)) / F.lit(float(step))),
    ).cast("long")
    return bound.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col("__w"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * step).cast("long").alias("tok_start"),
        F.array_join(
            F.slice(F.col("__w"), F.col("chunk_idx") * step + 1, size), " "
        ).alias("chunk_text"),
    )


def bigram_lm(df: DataFrame, text_col: str) -> tuple[DataFrame, DataFrame, int]:
    """Corpus-internal bigram language model: (bigram_counts,
    unigram_counts, vocab_size) over lowercase whitespace words. The
    model IS the aggregate — at 100 TB the corpus explodes once into
    word pairs and partial-aggregated groupBys reduce it to a model
    whose size tracks vocabulary, not corpus (broadcastable for
    scoring).

    Returns DataFrames (w1, w2, c2) and (w1, c1) plus |V|."""
    words = _words(F.lower(F.col(text_col)))
    pairs = df.select(
        F.explode(
            F.zip_with(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    unigrams = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = pairs.select("w2").union(pairs.select(F.col("w1").alias("w2")))
    v = vocab.distinct().count()
    return bigrams, unigrams, v


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean bigram log-probability under an add-alpha
    smoothed corpus LM — the CCNet/Gopher-style fluency signal
    (gibberish and boilerplate sit far from the corpus distribution;
    rank by lm_logprob ascending to find them). Scored against the
    corpus itself by default, or against `model_df` (a reference
    corpus, e.g. a known-clean slice) for CCNet-style filtering.

    Output: (id, n_bigrams, lm_logprob) — NULL score for docs with no
    bigram (< 2 words).

    Shape at scale: TWO corpus explosions (model build + scoring),
    each feeding a partial-aggregated groupBy; the scoring join is
    against model tables whose size is vocabulary-bound, so Catalyst
    broadcasts them when small and AQE picks shuffle-hash beyond
    that. ln() + one final avg keep everything whole-stage codegen;
    the same arithmetic in plain SQL is the oracle (corpus x42).
    """
    bigrams, unigrams, v = bigram_lm(model_df if model_df is not None else df, text_col)
    words = _words(F.lower(F.col(text_col)))
    doc_pairs = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    scored = (
        doc_pairs.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(alpha)))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(alpha * v)))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.avg("lp").alias("lm_logprob")
    )
    return (
        df.select(id_col)
        .join(per_doc, [id_col], "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "lm_logprob",
        )
    )
