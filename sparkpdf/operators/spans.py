"""Relational operators over documents_interleaved — SURVEY.md §2.3-2.7.

Every operator is a pure DataFrame transformation built from JVM-side
array/higher-order functions (transform/filter/aggregate) — zero Python
in the hot path, so whole-stage codegen applies throughout. Offsets are
renumbered declaratively after structural edits so the span-order
contract (kind, text, media_ref, order) survives every operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _renumber(spans: Column) -> Column:
    """Re-assign offset = position after structural edits (keeps the
    strictly-increasing contiguous contract)."""
    return F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def remove_text(df: DataFrame) -> DataFrame:
    """Drop text spans (parity: removeText nulls Tj/TJ/'/\" operands,
    /root/reference/_writer.py:955-997)."""
    return df.withColumn(
        "spans", _renumber(F.filter("spans", lambda s: s["kind"] != F.lit("text")))
    )


def remove_images(df: DataFrame) -> DataFrame:
    """Drop media spans (parity: removeImages, _writer.py:879-953)."""
    return df.withColumn(
        "spans",
        _renumber(F.filter("spans", lambda s: s["kind"] != F.lit("media_ref"))),
    )


def doc_full_text(df: DataFrame) -> DataFrame:
    """Ordered string aggregation (parity: extractText assembly,
    _page.py:758-837): spans are already offset-ordered arrays, so this
    is array_join — NO shuffle, unlike a collect_list+window plan."""
    return df.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "",
        ).alias("full_text"),
    )


def span_counts(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("text"))).alias(
            "n_text"
        ),
        F.size(
            F.filter("spans", lambda s: s["kind"] == F.lit("media_ref"))
        ).alias("n_media"),
        F.size("spans").alias("n_spans"),
    )


def merge_docs(a: DataFrame, b: DataFrame, sep: str = "+") -> DataFrame:
    """Ordered UNION ALL of two span-docs by doc_id (parity:
    PdfFileMerger.merge/append, _merger.py:82-215): b's spans follow
    a's, offsets renumbered. Equi-join on doc_id; Catalyst/AQE picks
    broadcast when one side is small."""
    a2 = a.select("doc_id", F.col("spans").alias("spans_a"))
    b2 = b.select("doc_id", F.col("spans").alias("spans_b"))
    return a2.join(b2, "doc_id", "inner").select(
        F.concat(F.col("doc_id"), F.lit(sep)).alias("doc_id"),
        _renumber(F.concat("spans_a", "spans_b")).alias("spans"),
    )


def split_pages(page_df: DataFrame) -> DataFrame:
    """1 doc -> N single-page docs (parity: writer page ops / splitting,
    _writer.py:125-235): doc_id#page_no, offsets renumbered per page."""
    return page_df.select(
        F.concat_ws("#", "doc_id", F.col("page_no").cast("string")).alias("doc_id"),
        _renumber("spans").alias("spans"),
    )


def page_range(page_df: DataFrame, start: int, stop: int, step: int = 1) -> DataFrame:
    """PageRange slice start:stop:step (parity: pagerange.py:34-126) as
    a pure filter — pushes down to the scan when page_no is stored."""
    cond = (F.col("page_no") >= start) & (F.col("page_no") < stop)
    if step != 1:
        cond = cond & ((F.col("page_no") - start) % step == 0)
    return page_df.filter(cond)


def media_catalog(df: DataFrame) -> DataFrame:
    """Distinct media refs per doc with first-use offset — the
    'resource dictionary' projection of the span table."""
    exploded = df.select(
        "doc_id", F.explode(F.filter("spans", lambda s: s["kind"] == F.lit("media_ref"))).alias("s")
    )
    return exploded.groupBy("doc_id", F.col("s.media_ref").alias("media_ref")).agg(
        F.count("*").alias("n_uses"), F.min("s.offset").alias("first_offset")
    )


def insert_pages(
    pages: DataFrame, to_insert: DataFrame, position: int
) -> DataFrame:
    """Positional page insert (parity: insertPage/merge(position=...),
    _writer.py:164-173, _merger.py:189-190): order-key arithmetic
    (base pages at 2*page_no, inserted block at 2*position-1), then a
    per-doc window renumber — the shuffle is on doc_id only."""
    from pyspark.sql import Window

    base = pages.select(
        "doc_id", "spans", (F.col("page_no") * 2).alias("_k")
    )
    ins = to_insert.select(
        "doc_id",
        "spans",
        (F.lit(position * 2 - 1) + F.col("page_no") / F.lit(1e6)).alias("_k"),
    )
    w = Window.partitionBy("doc_id").orderBy("_k")
    return (
        base.unionByName(ins)
        .withColumn("page_no", (F.row_number().over(w) - 1).cast("int"))
        .select("doc_id", "page_no", "spans")
    )


def overlay_pages(base: DataFrame, overlay: DataFrame) -> DataFrame:
    """Page overlay (parity: mergePage + transformed variants,
    _page.py:338-664): the overlay page's spans render AFTER the base
    page's (q/Q isolation keeps them independent; at span granularity
    that is ordered concatenation). Join on (doc_id, page_no).

    Rename-map (J7, parity: _mergeResources + _contentStreamRename,
    _page.py:260-290): an overlay media_ref that collides with a base
    media_ref gets a '~1' suffix so the merged page's XObject names stay
    unique — pure array expressions, no Python. The reference suffixes
    with uuid4(); a Spark operator must be deterministic, hence the
    fixed suffix."""
    b = base.select(
        "doc_id", "page_no", F.col("spans").alias("spans_base")
    )
    o = overlay.select(
        "doc_id", "page_no", F.col("spans").alias("spans_over")
    )
    base_refs = F.transform(
        F.filter("spans_base", lambda s: s["kind"] == "media_ref"),
        lambda s: s["media_ref"],
    )
    renamed_over = F.transform(
        "spans_over",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.when(
                (s["kind"] == "media_ref")
                & F.array_contains(base_refs, s["media_ref"]),
                F.concat(s["media_ref"], F.lit("~1")),
            )
            .otherwise(s["media_ref"])
            .alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return b.join(o, ["doc_id", "page_no"], "inner").select(
        "doc_id",
        "page_no",
        _renumber(F.concat("spans_base", renamed_over)).alias("spans"),
    )


def remove_links(pdf_raw: DataFrame) -> DataFrame:
    """removeLinks in the span data model (parity: _writer.py:871-877,
    which strips /Annots from every page during write): re-emit each
    document through the span writer, which carries the full ordered
    text+media content but no annotation dictionaries — so the output
    PDFs provably contain zero link annotations while full_text is
    byte-identical (write_roundtrip contract). One extraction pass + one
    write pass, both Arrow row-kernel passes, no shuffle."""
    from .extract import extract_spans, write_pdfs

    return write_pdfs(extract_spans(pdf_raw))
