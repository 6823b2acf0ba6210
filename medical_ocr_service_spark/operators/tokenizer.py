"""Distributed BPE tokenizer training — byte-pair-encoding merge learning
(Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare Words
with Subword Units") re-expressed as DataFrame ops, no Python UDFs.

The repo already counts tokens (text_analysis.token_count / subword
_estimate); this module learns an actual merge table from the corpus — the
step a from-scratch LLM-data pipeline runs before tokenizing 100 TB.

Single-machine BPE iterates over an in-memory word-frequency dict. The
distributed shape mirrors the HuggingFace-tokenizers trainer split:

  1. ONE corpus scan -> distinct-WORD frequency table (vocabulary-sized,
     map-side combined — the corpus is never touched again; 100 TB of text
     collapses to ~1e8 distinct words).
  2. Each merge round runs on the words table only:
       a. adjacent-symbol pair counts weighted by word freq — explode +
          groupBy, map-side combined, pairs-vocabulary-sized shuffle;
       b. argmax pair — orderBy + limit(1), a ONE-ROW driver collect per
          round (bounded and documented, same discipline as the IVF
          centroid means and the matcher probe);
       c. merge application — a pure-JVM F.aggregate (fold) over each
          word's symbol array: greedy left-to-right, non-overlapping,
          exactly the reference algorithm's scan.
  3. localCheckpoint every few rounds truncates both the lineage and the
     withColumn expression nesting, so the per-round plan stays
     constant-size (the connected_components discipline).

At web scale the words table keeps its long tail; min_word_freq prunes it
(freq-1 hapaxes are ~half the distinct words of a web corpus and cannot
win a merge whose count threshold exceeds them — standard trainer
practice). Tie-breaks are total and deterministic: (freq DESC, left ASC,
right ASC), pinned identically in the pytest reference implementation.

No end-of-word sentinel: words come from whitespace pre-tokenization and
merges never cross word boundaries (GPT-2-style pre-tok + plain BPE). The
pytest reference uses the same convention, so merge tables are comparable
byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequency_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms) — the trainer's working set. One tokenize, one
    vocabulary-sized shuffle; syms is the word split into single
    characters (the BPE base alphabet)."""
    words = (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[ \t\n\r]+"),
                    lambda x: x != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # split(word, '') yields single characters in Spark (no empty tail)
    return words.withColumn("syms", F.split(F.col("word"), ""))


def _merge_fold(syms, left: str, right: str):
    """Greedy left-to-right application of merge (left, right) -> left+right
    to a symbol array, as a pure-JVM fold. Non-overlapping by construction:
    once a pair merges, the merged symbol is the new 'last' and the raw
    left symbol is consumed (reference semantics: 'aaa' + (a,a) -> [aa, a])."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_freq: int = 2,
    min_word_freq: int = 1,
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """Learn up to n_merges BPE merges from the corpus; returns
    [(left, right, pair_freq), ...] in merge order. Stops early when the
    best remaining pair's weighted frequency drops below min_pair_freq
    (freq-1 pairs are noise a tokenizer never wants)."""
    words = word_frequency_table(df, text_col)
    if min_word_freq > 1:
        words = words.filter(F.col("freq") >= min_word_freq)
    words = words.select("freq", "syms").localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for r in range(n_merges):
        pairs = (
            words.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i + 1).alias("a"),
                            F.element_at(F.col("syms"), i + 2).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("f"))
            .orderBy(F.desc("f"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # ONE row per round — bounded driver traffic
        )
        if not pairs or pairs[0]["f"] < min_pair_freq:
            break
        a, b, f = pairs[0]["a"], pairs[0]["b"], int(pairs[0]["f"])
        merges.append((a, b, f))
        words = words.withColumn("syms", _merge_fold(F.col("syms"), a, b))
        if (r + 1) % checkpoint_every == 0:
            words = words.localCheckpoint()
    return merges


def bpe_segment_words(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Apply a learned merge table to a words frame -> adds `syms`
    (array<string> BPE segmentation). Same fold per merge, rank order,
    periodic checkpoint to keep the expression tree flat."""
    out = words.withColumn("syms", F.split(F.col(word_col), ""))
    for r, (a, b, _f) in enumerate(merges):
        out = out.withColumn("syms", _merge_fold(F.col("syms"), a, b))
        if (r + 1) % checkpoint_every == 0:
            out = out.localCheckpoint()
    return out


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 8,
) -> DataFrame:
    """(id, tokens) — encode documents with a learned merge table.

    The merges are applied to the DISTINCT-word table only (vocabulary-
    sized work no matter the corpus size); documents then re-assemble by
    an unhinted equi-join of their exploded words against the segmented
    vocabulary (AQE broadcasts it when it is actually small) and an
    order-preserving groupBy on (id, pos). The corpus text crosses exactly
    two shuffles (explode -> join; groupBy) and the fold work never
    touches it. A document with no words (empty, whitespace-only or NULL
    text) keeps its row with empty tokens: the encoded rows left-join back
    onto the input ids."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[ \t\n\r]+"),
                lambda x: x != "",
            )
        ).alias("pos", "word"),
    )
    vocab = bpe_segment_words(
        toks.select("word").distinct(), merges, "word", checkpoint_every
    )
    encoded = (
        toks.join(vocab, "word")
        .groupBy("_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "syms"))
                    ),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(encoded, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("tokens", F.array().cast("array<string>")).alias("tokens"),
        )
    )
