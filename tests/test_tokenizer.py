"""Distributed BPE trainer vs a reference single-machine implementation.

The reference below is the classic Sennrich et al. (2016) loop over an
in-memory word-frequency dict, with the SAME conventions the Spark trainer
pins: whitespace pre-tokenization + lowercase, no end-of-word sentinel,
greedy left-to-right non-overlapping merge application, and the total
tie-break (freq DESC, left ASC, right ASC). Merge-table equality against
it proves the distributed formulation computes the reference algorithm,
not an approximation.
"""

from __future__ import annotations

from collections import Counter

from medical_ocr_service_spark.operators.tokenizer import (
    bpe_encode,
    bpe_segment_words,
    learn_bpe_merges,
)


def _ref_words(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            c[w] += 1
    return c


def _ref_apply(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_bpe(
    texts: list[str], n_merges: int, min_pair_freq: int = 2
) -> tuple[list[tuple[str, str, int]], dict[str, tuple[str, ...]]]:
    words = {w: tuple(w) for w in _ref_words(texts)}
    freqs = _ref_words(texts)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freqs[w]
        if not pc:
            break
        (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if f < min_pair_freq:
            break
        merges.append((a, b, f))
        words = {w: _ref_apply(s, a, b) for w, s in words.items()}
    return merges, words


CORPUS = [
    "low lower lowest low low",
    "new newer newest new news",
    "widest wide wider new low",
    "the newest news is new",
]


def test_learn_bpe_merges_matches_reference(spark):
    texts = CORPUS
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = learn_bpe_merges(df, "text", n_merges=12, checkpoint_every=3)
    ref, _ = _ref_bpe(texts, 12)
    assert got == ref
    assert len(got) > 3  # the corpus supports a real merge sequence


def test_bpe_overlapping_pair_greedy_left_to_right(spark):
    # 'aaaa' x3 -> best pair (a,a); greedy non-overlap -> [aa, aa],
    # NOT [aa, a, a] and NOT a sliding triple-count.
    df = spark.createDataFrame([(1, "aaaa aaaa aaaa")], ["doc_id", "text"])
    merges = learn_bpe_merges(df, "text", n_merges=1)
    assert merges == [("a", "a", 9)]  # 3 non-overlapping? no: pair COUNT
    # pair count is positional (3 adjacent positions per word x 3 words);
    # the reference counts the same way, so equality above is the contract.
    seg = bpe_segment_words(
        spark.createDataFrame([("aaaa",), ("aaa",)], ["word"]),
        merges,
    ).collect()
    by_word = {r["word"]: r["syms"] for r in seg}
    assert by_word["aaaa"] == ["aa", "aa"]
    assert by_word["aaa"] == ["aa", "a"]


def test_learn_bpe_min_pair_freq_stops(spark):
    # every pair unique -> best pair freq 1 < min_pair_freq 2 -> no merges
    df = spark.createDataFrame([(1, "abc def")], ["doc_id", "text"])
    assert learn_bpe_merges(df, "text", n_merges=5, min_pair_freq=2) == []


def test_bpe_encode_roundtrip_and_word_isolation(spark):
    texts = CORPUS
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = learn_bpe_merges(df, "text", n_merges=10, checkpoint_every=4)
    _ref_merges, ref_words = _ref_bpe(texts, 10)
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        expect = [s for w in t.lower().split() for s in ref_words[w]]
        assert enc[i] == expect, (i, enc[i], expect)
    # merges never cross a word boundary: concatenating each doc's tokens
    # reproduces the doc's words exactly
    for i, t in enumerate(texts):
        assert "".join(enc[i]) == "".join(t.lower().split())


def test_bpe_encode_keeps_wordless_docs(spark):
    """Empty and whitespace-only documents encode to empty token lists
    instead of vanishing from the output."""
    df = spark.createDataFrame(
        [(0, "abab ab"), (1, ""), (2, " \t\n ")], ["doc_id", "text"]
    )
    merges = learn_bpe_merges(df, "text", n_merges=2)
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, merges).collect()}
    assert enc == {0: ["ab", "ab", "ab"], 1: [], 2: []}


def test_learn_bpe_merges_fuzz_vs_reference(spark):
    """Random small corpora: the distributed trainer's merge table must
    equal the reference implementation's for every draw (tie-breaks
    included — the sampled two-letter alphabet forces heavy count ties)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=4)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=5))
    def run(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = learn_bpe_merges(df, "text", n_merges=6, checkpoint_every=2)
        ref, _ = _ref_bpe(texts, 6)
        assert got == ref, (texts, got, ref)

    run()
