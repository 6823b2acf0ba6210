"""Span extraction + reassembly — the flagship pipeline core.

Input (BASELINE.json input_hint):
    documents_interleaved(doc_id string,
                          spans array<struct<kind,text,media_ref,offset:int>>)
    media(media_ref string, layout_json string, width int, height int)

Output invariant (the span-sequence-equality gate): per document, the ordered
sequence (kind, text, media_ref, order) with order = 1-based rank of offset;
text = density-stripped main content for text spans, XY-cut reading-order text
for media spans.

Scale design (10^12 docs / 100 TB):
  * explode(spans) is narrow — no shuffle;
  * text spans never touch media resolution: the plan splits by kind and only
    the media subset resolves payloads, with one left join on media_ref.
    Spark (AQE included) turns it into a broadcast hash join when the media
    side is small, and a shuffled join when it is not;
  * span ordering uses a window over (doc_id, offset). Spans-per-doc is
    bounded (10^3 pathological), so per-key state is tiny; AQE skew-join
    handles stragglers. Reassembly to arrays uses
    sort_array(collect_list(struct(offset, ...))) — NEVER shuffle order;
  * text-span cleaning is pure whole-stage-codegen column expressions
    (strip_boilerplate_col — no Python at all on that branch); the only
    Arrow pandas UDFs left are the XY-cut layout parse (recursive) and the
    per-doc field extraction (many-regex-per-row, measured faster in
    compiled re than as a catalyst expression tree).

Plan build (driver cost, paid on every call): each step is one DataFrame
projection, never a withColumn/drop chain, because every DataFrame step
re-runs JVM analysis (3-9 ms each). The constant expression trees (strip,
layout, reassembly, fields) are built once per SparkContext
(functions.per_context), because every F.* call is one py4j round trip or
more; a warm run_previsacion build makes about 280 round trips instead of
about 2,450.

Reference parity: replaces the GPT-4o Vision + pdftoppm worker loop
(/root/reference/src/workers/previsacion.worker.js:18-227) with deterministic
vectorized operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config
from ..functions import per_context
from ..functions.extraction_udfs import (
    extract_fields_udf,
    layout_text_err_udf,
    pruned_layout_trees,
    strip_boilerplate_col,
)

SPAN_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]


@per_context
def _exploded_cols():
    return F.col("doc_id"), F.inline("spans")


def exploded_spans(docs: DataFrame) -> DataFrame:
    """documents_interleaved -> one row per span (narrow transform):
    (doc_id, kind, text, media_ref, offset)."""
    return docs.select(*_exploded_cols())


@per_context
def _span_trees(with_errors: bool) -> dict:
    """clean_spans' constant trees: the kind predicates, the payload
    projection of ``media``, and the output projections of the text and
    media branches."""

    def span_cols(text, err):
        cols = [text.alias(c) if c == "text" else F.col(c) for c in SPAN_COLS]
        return cols + ([err.alias("_err")] if with_errors else [])

    if with_errors:
        # quarantine path (Q3): per-row error capture needs the raw payload
        # in Python, so it keeps the JSON Arrow UDF; its two fields read one
        # evaluation (ExtractPythonUDFs merges equal UDF calls)
        lt = layout_text_err_udf(F.col("layout_json"))
        media = span_cols(lt["text"], lt["error"])
    else:
        media = span_cols(pruned_layout_trees("layout_json")[2], None)
    return {
        "is_text": F.col("kind") == "text",
        "is_media": F.col("kind") == "media",
        "text": span_cols(
            strip_boilerplate_col(F.col("text")), F.lit(None).cast("string")
        ),
        "payload": [F.col("media_ref"), F.col("layout_json")],
        "media": media,
    }


def clean_spans(
    docs: DataFrame, media: DataFrame, with_errors: bool = False
) -> DataFrame:
    """Per-span cleaned text: boilerplate-strip for text, XY-cut for media.

    Returns (doc_id, kind, text, media_ref, offset) with text cleaned. Media
    spans resolve their layout payload with a left join on media_ref (1:1;
    media_ref is unique on both sides); an unresolved ref yields NULL text.

    ``with_errors=True`` adds an ``_err`` column (Q3 quarantine): a media
    span whose layout payload fails to parse carries the error string
    instead of failing the task; text spans always have ``_err`` NULL.
    """
    t = _span_trees(with_errors)
    spans = exploded_spans(docs)

    # JVM-native density strip (strip_boilerplate_col): the text-span branch
    # carries NO Python stage at all — whole-stage codegen end to end.
    # pytest asserts equality with the corpus/golden.py oracle.
    text_part = spans.filter(t["is_text"]).select(*t["text"])

    media_part = spans.filter(t["is_media"]).join(
        media.select(*t["payload"]), "media_ref", "left"
    )
    if not with_errors:
        # pruned layout path: JVM from_json decodes the payload once, ONLY
        # block coordinates cross the Arrow boundary and a permutation
        # comes back (apply_pruned_layout's projections) — the block text
        # never ships to Python in either direction, cutting the map
        # stage's Python traffic ~4x sent / ~12x returned (measured,
        # BENCH/BASELINE.md round 4) and removing the per-row json.loads
        # worker-side. Byte parity with the golden XY-cut is pytest-asserted.
        blk, texts_and_perm, _ = pruned_layout_trees("layout_json")
        media_part = media_part.select("*", blk).select("*", *texts_and_perm)

    # media branch FIRST: a union stage schedules partitions in branch
    # order, and the media tasks are the slow (Python layout-parse) ones —
    # starting them first fills the stage tail with short JVM text tasks
    # instead of stragglers (LPT scheduling). Row order is irrelevant:
    # reassembly sorts by offset.
    return media_part.select(*t["media"]).unionByName(text_part)


@per_context
def _ordered_cols():
    w = Window.partitionBy("doc_id").orderBy("offset")
    return [
        F.col("doc_id"), F.col("kind"), F.col("text"), F.col("media_ref"),
        F.row_number().over(w).cast("int").alias("order"),
    ]


def ordered_spans(docs: DataFrame, media: DataFrame) -> DataFrame:
    """The span-sequence table: (doc_id, kind, text, media_ref, order).

    order = 1-based rank of offset within the document. Offsets are unique
    per document — the input contract (duplicate offsets would tie-break by
    the remaining struct fields in reassembled_docs but by arrival order
    here; don't feed malformed docs).
    """
    return clean_spans(docs, media).select(*_ordered_cols())


def reassembled_docs(docs: DataFrame, media: DataFrame) -> DataFrame:
    """One row per doc: ordered span array + full_text.

    spans: array<struct<kind,text,media_ref,order>> sorted by order via
    sort_array on a struct with `order` leading — explicitly NOT relying on
    collect_list/shuffle order (SURVEY.md §7 hard parts).
    """
    return _reassemble_cleaned(clean_spans(docs, media))


@per_context
def _reassembly_trees() -> dict:
    """The reassembly and quarantine trees: the groupBy key and aggregates,
    _finish_reassembly's (doc_id, spans, full_text) projection, the
    clean/quarantined split predicates and the quarantine projections."""
    spans = F.transform(
        "_sorted",
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            (i + 1).cast("int").alias("order"),
        ),
    )
    full_text = F.array_join(
        F.transform(
            F.filter("_sorted", lambda s: s["text"].isNotNull() & (s["text"] != "")),
            lambda s: s["text"],
        ),
        " ",
    )
    return {
        "doc_id": F.col("doc_id"),
        "sorted": F.sort_array(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ).alias("_sorted"),
        "errors": F.collect_list(
            F.when(
                F.col("_err").isNotNull(),
                F.struct("media_ref", F.col("_err").alias("error")),
            )
        ).alias("_errors"),
        "finish": [F.col("doc_id"), spans.alias("spans"), full_text.alias("full_text")],
        "clean": F.size("_errors") == 0,
        "quarantined": F.size("_errors") > 0,
        "quarantine_cols": [F.col("doc_id"), F.col("_errors")],
        "quarantine_rows": [F.col("doc_id"), F.inline("_errors")],
    }


def _finish_reassembly(agg: DataFrame) -> DataFrame:
    """(doc_id, _sorted) -> (doc_id, spans, full_text).

    `_sorted` is the offset-ordered array<struct<offset,kind,text,media_ref>>;
    this derives the 1-based `order` ranks and the space-joined full_text.
    Shared tail of the default, salted and quarantine reassembly variants.
    """
    return agg.select(*_reassembly_trees()["finish"])


def _reassemble_cleaned(cleaned: DataFrame) -> DataFrame:
    """groupBy(doc_id) + sort_array reassembly of a cleaned span frame."""
    t = _reassembly_trees()
    return _finish_reassembly(cleaned.groupBy(t["doc_id"]).agg(t["sorted"]))


def extract_documents(
    docs: DataFrame, media: DataFrame, salted: bool = False
) -> DataFrame:
    """Full extraction: reassembled spans + structured fields + confidence.

    Output: doc_id, spans, full_text, fields.* (struct columns), plus
    requiere_revision (= confianza_extraccion < REVIEW_THRESHOLD,
    reference pre-visacion.service.js:55).

    ``salted=True`` swaps in the two-phase salted reassembly
    (reassembled_docs_salted) for corpora with pathological many-span docs.
    """
    if salted:
        assembled = reassembled_docs_salted(docs, media)
    else:
        assembled = reassembled_docs(docs, media)
    # Field extraction stays an Arrow pandas UDF *by measurement*: a
    # JVM-expression version built an expression tree large enough to fall
    # out of whole-stage codegen and re-ran each regex per reference — 2x
    # slower end-to-end at 4 cores (90s vs 44s / 300k docs). Compiled re +
    # one pass per doc in an Arrow batch wins for this many-regex-per-row
    # shape.
    return _with_fields(assembled)


@per_context
def _fields_cols():
    """_with_fields' projection: the input columns, fields and the review
    flag, which reads the same (merged) evaluation of the fields UDF."""
    fields = extract_fields_udf(F.col("full_text"))
    return [
        F.col("*"),
        fields.alias("fields"),
        (fields["confianza_extraccion"] < F.lit(config.REVIEW_THRESHOLD)).alias(
            "requiere_revision"
        ),
    ]


def _with_fields(assembled: DataFrame) -> DataFrame:
    """Shared tail: structured-field extraction + review flag."""
    return assembled.select(*_fields_cols())


@per_context
def result_row_cols():
    """The result-table row of an extract_documents row, shared by every
    sink that commits one (checkpointed runs, the extraction stream): spans
    as JSON text, fields flattened. Sinks append their own tag columns."""
    return [
        F.col("doc_id"),
        F.col("spans").cast("string").alias("spans_json"),
        F.col("full_text"),
        F.col("fields.*"),
        F.col("requiere_revision"),
    ]


def reassembled_docs_with_errors(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Quarantine-path reassembly: (doc_id, _sorted, _errors), one row per
    doc from ONE groupBy over clean_spans(with_errors=True).

    `_sorted` is the offset-sorted span list (as in _reassemble_cleaned);
    `_errors` is array<struct<media_ref, error>> of the doc's failed spans.
    collect_list drops NULLs, so a clean doc gets an empty array."""
    t = _reassembly_trees()
    cleaned = clean_spans(docs, media, with_errors=True)
    return cleaned.groupBy(t["doc_id"]).agg(t["sorted"], t["errors"])


def split_quarantine(per_doc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """reassembled_docs_with_errors output -> (results, quarantined docs).

    results are extract_documents rows for the docs with no failed span;
    quarantined docs are (doc_id, _errors) for the rest, one row per doc
    (quarantine_rows flattens them to the quarantine table's rows)."""
    t = _reassembly_trees()
    results = _with_fields(_finish_reassembly(per_doc.filter(t["clean"])))
    quarantined = per_doc.filter(t["quarantined"]).select(*t["quarantine_cols"])
    return results, quarantined


def quarantine_rows(quarantined: DataFrame) -> DataFrame:
    """Quarantined docs -> one (doc_id, media_ref, error) row per failed span."""
    return quarantined.select(*_reassembly_trees()["quarantine_rows"])


def extract_documents_quarantine(
    docs: DataFrame, media: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Q3 (job-queue.service.js:193-238): extraction with per-row failure
    isolation. Returns (results, quarantine):

    * quarantine — one row per failed span: (doc_id, media_ref, error);
      a malformed layout payload lands here instead of failing the task;
    * results — extract_documents output for the documents with NO failed
      span. Quarantined documents are withheld entirely, so a checkpointed
      resume (CheckpointedExtraction) naturally retries them next run —
      the Spark analogue of the reference's attempt counter + re-queue.

    Both outputs hang off one per-doc frame (reassembled_docs_with_errors):
    each span is cleaned and its layout parsed once, in the same groupBy
    that reassembles the document, and the frame splits on whether the
    doc's error list is empty — no anti-join, no distinct over doc_ids.
    Each output returned here recomputes that frame; a caller that writes
    both should persist it and split it with split_quarantine and
    quarantine_rows, as CheckpointedExtraction.run does.
    """
    results, quarantined = split_quarantine(
        reassembled_docs_with_errors(docs, media)
    )
    return results, quarantine_rows(quarantined)


def reassembled_docs_salted(
    docs: DataFrame, media: DataFrame, n_salts: int = 16
) -> DataFrame:
    """Skew-mitigated two-phase reassembly for pathological many-span docs
    (north_rule salted-key mitigation; SURVEY §7 hard parts).

    Phase 1: groupBy(doc_id, salt) where salt = pmod(hash(offset), n_salts) —
    a hot document's spans spread over n_salts reducers, each producing a
    sorted partial list. Phase 2: groupBy(doc_id) merges the (salt-tagged)
    partials and flattens them back into one offset-sorted sequence.

    Ordering is preserved because BOTH phases sort on offset (structs with
    offset leading), never on arrival order. Output schema == reassembled_docs.
    """
    cleaned = clean_spans(docs, media)

    phase1 = (
        cleaned.select("*", F.pmod(F.hash("offset"), F.lit(n_salts)).alias("_salt"))
        .groupBy("doc_id", "_salt")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("_part")
        )
    )

    merged = phase1.groupBy("doc_id").agg(
        F.sort_array(F.flatten(F.collect_list("_part"))).alias("_sorted")
    )
    return _finish_reassembly(merged)
