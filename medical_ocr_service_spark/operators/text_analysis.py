"""Text analysis operators for training-data pipelines (all JVM-side).

Language-ID (stopword-overlap heuristic), repetition features, PII scrubbing
and document fingerprinting (polynomial rolling hash) — each a single narrow
projection over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "ein"],
}


def _words(text: Column) -> Column:
    """Lower-cased words split on [ \\t\\n\\r]+, empty tokens dropped."""
    return F.filter(F.split(F.lower(text), "[ \t\n\r]+"), lambda x: x != "")


def _score(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast("long")


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Adds per-language stopword scores + argmax lang_guess column."""
    toks = _words(F.col(text_col))
    out = df
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"score_{lang}", _score(toks, words))
    # argmax with deterministic tie-break: language name ascending. array_max
    # compares struct fields lexicographically, so (score, -alpha_rank, lang)
    # makes equal scores resolve to the alphabetically-first language.
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("score"),
                F.lit(-rank).alias("neg_rank"),
                F.lit(lang).alias("lang"),
            )
            for rank, lang in enumerate(sorted(STOPWORDS))
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return out.withColumn(
        "lang_guess",
        F.when(best.isNull(), F.lit("und")).otherwise(best["lang"]),
    )


def repetition_features(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (training-data filtering):

    * dup_word_fraction   — 1 - distinct/total words (word-level repetition);
    * dup_bigram_fraction — 1 - distinct/total word bigrams;
    * symbol_word_ratio   — non-alphanumeric symbol count / word count.

    All per-row higher-order array functions — no shuffle, no Python.
    Bigrams pair the token array with itself shifted by one (no indexing, so
    ANSI mode cannot fail the row). A one-token text pairs its token with
    NULL and a NULL text yields one empty bigram: both count one bigram, as
    the DuckDB oracle does."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(1))
    bigrams = F.coalesce(
        F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
        ),
        F.array(F.lit("")),
    )
    nb = F.size(bigrams)
    symbols = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    return df.select(
        "*",
        F.round(
            1.0 - F.size(F.array_distinct(toks)) / n.cast("double"), 6
        ).alias("dup_word_fraction"),
        F.round(
            1.0 - F.size(F.array_distinct(bigrams)) / nb.cast("double"), 6
        ).alias("dup_bigram_fraction"),
        F.round(symbols / F.greatest(n, F.lit(1)).cast("double"), 6).alias(
            "symbol_word_ratio"
        ),
    )


PII_PATTERNS = {
    # pattern dialect kept to the RE2/Java common subset (char classes +
    # quantifiers) so the DuckDB oracle uses the same strings verbatim
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{2,4}([- ][0-9]{2,7}){1,2}",
    "dotted_id": r"[0-9]{1,3}\.[0-9]{3}\.[0-9]{3}",
}


def scrub_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Training-data PII scrub: emails / phone numbers / dotted national ids
    replaced by typed placeholders, with per-category match counts. Pure
    JVM (regexp_replace + regexp_count) — no UDFs, fully pushdown-safe."""
    out = df
    scrubbed = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn("text_scrubbed", scrubbed)


def fingerprint(text: Column, window: int = 8) -> Column:
    """Document fingerprint: min hash over token windows (winnowing-lite) —
    stable under whitespace changes, JVM-only.

    The window hash is the first 16 hex chars of md5 (as a string): fixed-
    width lowercase hex compares lexicographically == numerically, and md5
    exists verbatim in DuckDB, so the driver oracle can replicate the exact
    fingerprint (murmur3/F.hash has no DuckDB twin)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    win_hashes = F.transform(
        idx,
        lambda i: F.substring(
            F.md5(F.array_join(F.slice(toks, i + 1, window), " ")), 1, 16
        ),
    )
    return F.array_min(win_hashes)


def token_topk(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Corpus vocabulary top-k: the k most frequent whitespace tokens.

    Plan: explode -> two-level aggregate. The groupBy(token) partial-
    aggregates map-side (hash combine), so the shuffle carries one row per
    DISTINCT token per map partition, not one per token occurrence —
    vocabulary-sized, not corpus-sized. The global top-k is a TakeOrdered
    over the aggregated frame (each partition contributes its local top-k;
    no full sort materializes). Ties break by token ascending so the cut at
    k is deterministic.

    Split pattern is explicit ASCII whitespace ('[ \\t\\n\\r]+'), the subset
    where Java and RE2/DuckDB regex classes agree — the driver oracle
    replays it verbatim with string_split_regex.
    """
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), "[ \t\n\r]+")).alias("token")
    ).filter(F.col("token") != "")
    counted = toks.groupBy("token").agg(F.count("*").alias("n"))
    return counted.orderBy(F.desc("n"), F.asc("token")).limit(k)


def unigram_familiarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bottom_k: int = 20,
) -> DataFrame:
    """Corpus-LM quality score (CCNet-style): rank documents by how familiar
    their tokens are under the corpus's OWN unigram model, and return the
    bottom-k — the most out-of-distribution docs (boilerplate explosions,
    wrong-language fragments, OCR noise), the rows a pretraining pipeline
    routes to review or drops.

    CCNet scores with a perplexity (mean log-prob), but log() is libm
    territory — JVM and DuckDB may differ by 1 ulp, breaking cross-engine
    hashes. The familiarity score here is the MEAN UNIGRAM PROBABILITY of
    the doc's tokens:

        familiarity = (1/dl) * sum_t p(t) = mass / (total_tokens * dl)
        with  mass = sum over doc tokens of corpus_count(token)

    mass, total_tokens and dl are all INTEGER aggregates (exact, summation-
    order-independent); the score is ONE double division at the end —
    bit-identical on every engine. It is not rank-equivalent to perplexity
    (arithmetic vs geometric mean) but orders the same pathologies: a doc of
    corpus-rare tokens scores near 1/total, a doc of stopwords near the
    head-token mass.

    Plan: one tokenize -> groupBy(doc, token) tf -> corpus counts DERIVE
    from the tf frame (vocabulary-sized, map-side combined) and join back
    on token -> one groupBy(doc) for (mass, dl) -> TakeOrdered bottom-k.
    The corpus-sized path shuffles on (doc, token) once and doc once; the
    corpus-total scalar crossJoins as a broadcast. mass fits int64 up to
    ~10^18 token-occurrence products (dl ~ 10^3 x head-count ~ 10^13 at
    100 TB leaves 2 orders of margin; the DECIMAL(38,0) cast removes even
    that ceiling).

    The vocab-counts join carries NO broadcast hint (r4 verdict #3): on a
    clean corpus the vocabulary is small and AQE broadcasts it at runtime,
    but 100 TB of web text has 10^8-10^9 distinct tokens (URLs, typos,
    numbers) and a forced broadcast OOMs the driver. Unhinted, the join
    key (token) is the same partitioning the vocab aggregate just produced,
    so the shuffle-join path reuses that exchange. Only the single-row
    corpus-total frame keeps an explicit broadcast.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[ \t\n\r]+")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(
        F.sum(F.col("cnt").cast("decimal(38,0)")).alias("total_tokens")
    )
    per_doc = (
        tf.join(vocab, "token")
        .groupBy("id")
        .agg(
            # cast BEFORE multiplying: tf*cnt in BIGINT would wrap silently
            # (non-ANSI) near 2^63 — the docstring's 10^13 head-count at
            # 100 TB is only 2 orders below that — while the oracle SQL
            # multiplies in DECIMAL and stays exact. Decimal-first keeps
            # both engines exact at any scale.
            F.sum(
                F.col("tf").cast("decimal(38,0)") * F.col("cnt")
            ).alias("mass"),
            F.sum("tf").alias("dl"),
        )
        .crossJoin(F.broadcast(total))
    )
    score = F.col("mass").cast("double") / (
        F.col("total_tokens").cast("double") * F.col("dl")
    )
    return (
        per_doc.select(
            F.col("id").alias(id_col),
            F.col("dl"),
            F.round(score, 9).alias("familiarity"),
        )
        .orderBy(F.asc("familiarity"), F.asc(id_col))
        .limit(bottom_k)
    )


def bm25_topk_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document top-k characteristic terms by BM25 in the ODDS form —
    the doc-term-matrix operator (keyword extraction / quality features).

    Classic BM25 is  ln(odds) * sat  with
        odds = (N - df + 0.5) / (df + 0.5)
        sat  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    ln() is monotone, so ranking by  odds * sat  gives the SAME per-document
    top-k — and unlike ln, the odds form uses only IEEE +,-,*,/ on exact
    integer inputs, making the score bit-identical across engines (JVM vs
    DuckDB libm ln() may differ by 1 ulp; correctly-rounded arithmetic never
    does). odds is computed as (2N - 2df + 1)/(2df + 1) so both operands are
    exact integers-in-double.

    Plan: tokenize (narrow) -> groupBy(doc, token) tf -> dl and df both
    DERIVE from the tf frame (one tokenize, map-side combines everywhere).
    The df-per-token join back is UNHINTED (r4 verdict #3): "vocabulary-
    sized" is only broadcast-safe on a clean corpus — at 100 TB of web
    text the distinct-token count reaches 10^8-10^9 rows and a forced
    broadcast OOMs; AQE broadcasts it at runtime when it is actually
    small, and the unhinted join key (token) is the partitioning the df
    aggregate just produced, so the shuffle path reuses that exchange.
    Only the 1-row corpus-scalars frame keeps an explicit broadcast; the
    dl join and the final top-k window share the groupBy(doc)'s hash
    partitioning, so the fact path shuffles on (doc, token) once and on
    doc once.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[ \t\n\r]+")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))
    corp = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    avgdl = F.col("total_tokens") / F.col("n_docs")  # long/long -> double
    odds = (
        2.0 * F.col("n_docs") - 2.0 * F.col("df") + 1.0
    ) / (2.0 * F.col("df") + 1.0)
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * ((1.0 - b) + (b * F.col("dl")) / avgdl)
    )
    scored = (
        tf.join(dft, "token")
        .join(dl, "id")
        .crossJoin(F.broadcast(corp))
        .withColumn("score", odds * sat)
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col),
            "token",
            "tf",
            F.round("score", 6).alias("bm25_odds"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into ~chunk_tokens-token windows with ``overlap``
    tokens of context carry-over — the sequence-chunking step every
    LLM training / RAG-indexing pipeline runs before tokenization.

    Chunk g starts at token g*stride (stride = chunk_tokens - overlap) and
    takes chunk_tokens tokens; n_chunks = max(1, ceil((len - overlap) /
    stride)), which covers every token (last start + chunk_tokens =
    n*stride + overlap >= len) while never emitting a chunk FULLY CONTAINED
    in its predecessor — a plain ceil(len/stride) adds a redundant trailing
    chunk whenever 0 < len mod stride <= overlap, duplicating training
    content. A doc shorter than one chunk yields exactly one chunk; the
    final chunk may be short. Whitespace tokenization preserves the
    ORIGINAL text (no lowercasing — chunks are payload, not features).

    Plan: pure higher-order projections (split -> sequence -> posexplode of
    per-chunk slices) — narrow, zero shuffles, whole-stage codegen; output
    rows are (id, chunk_id, n_tokens, chunk_text). At 100 TB this is the
    map side of whatever writer follows; nothing here exchanges.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.col(text_col), "[ \t\n\r]+"), lambda x: x != ""
    )
    base = df.select(F.col(id_col), toks.alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(
            (F.size("_tk") - F.lit(overlap)) / F.lit(float(stride))
        ).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda g: F.slice(F.col("_tk"), g * stride + 1, chunk_tokens),
    )
    ex = base.select(
        id_col, F.posexplode(chunks).alias("chunk_id", "_chunk")
    )
    return ex.select(
        id_col,
        "chunk_id",
        F.size("_chunk").alias("n_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def ngram_topk(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus top-k word n-grams — the collocation/LM-count sibling of
    token_topk (n=1 degenerates to it). Adjacent-token windows come from a
    narrow higher-order projection (sequence + slice + array_join), then
    the same two-level aggregate: the shuffle carries one row per DISTINCT
    n-gram per map partition (map-side combine), the top-k is a
    TakeOrdered. Ties break by gram ascending."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\r]+"), lambda x: x != ""
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_tk") - n),
        lambda i: F.array_join(F.slice(F.col("_tk"), i + 1, n), " "),
    )
    ex = (
        df.select(toks.alias("_tk"))
        .filter(F.size("_tk") >= n)
        .select(F.explode(grams).alias("gram"))
    )
    counted = ex.groupBy("gram").agg(F.count("*").alias("n_occurrences"))
    return counted.orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    ).limit(k)


def pmi_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 30,
    min_pair_count: int = 5,
) -> DataFrame:
    """Collocation mining: the k adjacent word pairs most associated under
    pointwise mutual information — the phrase-mining pre-step a tokenizer/
    vocab pipeline runs to promote multi-word units ("new york", "machine
    learning") before BPE training (Mikolov et al. 2013's word2vec phrase
    pass uses exactly this count ratio).

    PMI(x,y) = log[ c(xy)·T / (c(x)·c(y)) ] — but log() is libm territory
    (JVM vs DuckDB may differ in the last ulp, breaking cross-engine value
    hashes), and log is monotone, so the LIFT c(xy)·T / (c(x)·c(y)) ranks
    identically and is what this returns. All four factors are exact BIGINT
    counts, each < 2^53 at any realistic scale (T ~ 1.5e13 tokens at
    100 TB), so every int→double conversion is exact and the score is three
    IEEE ops in a fixed parenthesization — bit-identical on every engine.

    Plan (100 TB-safe): one tokenize; unigram counts and adjacent-pair
    counts each two-level aggregate (map-side combine → shuffle carries one
    row per DISTINCT token / pair per map partition). The min_pair_count
    filter prunes the pair frame BEFORE the two unigram joins (frequent
    pairs are a vanishing fraction of distinct pairs). The unigram joins
    carry NO broadcast hint — web-scale vocabulary is 1e8-1e9 distinct
    tokens and a forced broadcast OOMs (r4 verdict); AQE broadcasts at
    runtime when the frame is actually small. Only the one-row corpus-total
    frame keeps an explicit broadcast. Top-k is a TakeOrdered under a total
    order (lift, n_pair, gram).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\n\r]+"), lambda x: x != ""
    )
    base = df.select(toks.alias("_tk"))
    uni = (
        base.select(F.explode("_tk").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("t_total"))
    pairs = base.filter(F.size("_tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("_tk"), i + 1).alias("w1"),
                    F.element_at(F.col("_tk"), i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    )
    bg = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    scored = (
        bg.join(uni.select(F.col("token").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
    )
    lift = (
        F.col("n_pair").cast("double") * F.col("t_total").cast("double")
    ) / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    return (
        scored.select(
            F.concat_ws(" ", "w1", "w2").alias("gram"),
            F.col("n_pair"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("n_pair"), F.asc("gram"))
        .limit(k)
    )
