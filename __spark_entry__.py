"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)     : flagship — synthesize a deterministic PDF corpus from
                   sf0.001 documents, run the full span-extraction
                   pipeline, return documents_interleaved.
queries()        : one entry per implemented operator (SURVEY.md §2 +
                   training-data ops); each (spark, sf_dir) -> DataFrame.
oracle_sql()     : DuckDB-runnable ANSI SQL producing the same rows
                   (column names aligned on both sides).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkpdf.operators.text import STOPWORDS as _STOPWORDS

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkpdf.testing.corpora import synthesize_pdf_corpus

    return synthesize_pdf_corpus(_t(spark, sf_dir, "documents"))


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: fused synth+extract — one python-runner layer, PDF bytes
    # never cross Arrow; row-identical to
    # extract_spans(_corpus(...)) (tests/test_fused_extract.py)
    from sparkpdf.testing.corpora import synthesize_and_extract_spans

    return synthesize_and_extract_spans(_t(spark, sf_dir, "documents"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents -> pdf_raw -> documents_interleaved."""
    return _spans(spark, "/root/testdata/sf0.001")


# --- query implementations ---------------------------------------------------

def q_extract_spans(spark, sf_dir):
    # single pass over the extraction output: counts + ordered text are
    # all array expressions on `spans` (no self-join, no recompute)
    spans = _spans(spark, sf_dir)
    text_spans = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    media_spans = F.filter("spans", lambda s: s["kind"] == F.lit("media_ref"))
    return spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(text_spans).alias("n_text"),
        F.size(media_spans).alias("n_media"),
        F.array_join(
            F.transform(text_spans, lambda s: s["text"]), ""
        ).alias("full_text"),
    )


def q_interleaved_extract(spark, sf_dir):
    # round 8: the north rule's interleaved corpus taken literally —
    # ONE mixed table (even ids = PDF bytes, odd ids = HTML markup),
    # ONE extractor (per-doc sniff inside the batch kernel), ONE span
    # contract out: text spans + media_ref spans with contiguous
    # offsets regardless of source format
    from sparkpdf.operators.extract import extract_interleaved
    from sparkpdf.testing.corpora import synthesize_interleaved_corpus

    res = extract_interleaved(
        synthesize_interleaved_corpus(_t(spark, sf_dir, "documents"))
    )
    text_spans = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    media_spans = F.filter(
        "spans", lambda s: s["kind"] == F.lit("media_ref"))
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(text_spans).alias("n_text"),
        F.size(media_spans).alias("n_media"),
        F.array_join(
            F.transform(text_spans, lambda s: s["text"]), ""
        ).alias("full_text"),
        F.array_join(
            F.transform(media_spans, lambda s: s["media_ref"]), ","
        ).alias("media_refs"),
    )


def q_warc_mixed_extract(spark, sf_dir):
    # round 8: the full crawl-to-spans composition — CommonCrawl-shape
    # archives whose responses interleave application/pdf and
    # text/html bodies (the REAL crawl mix), demuxed by
    # warc_documents, then ONE extract_interleaved pass sniffs each
    # payload and emits the unified span contract
    from sparkpdf.operators.extract import extract_interleaved
    from sparkpdf.sources.warc_source import warc_documents
    from sparkpdf.testing.corpora import synthesize_warc_mixed_corpus

    mixed = warc_documents(
        synthesize_warc_mixed_corpus(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "payload", "content_type")
    # the HTTP envelope's declared type outranks the byte sniff
    res = extract_interleaved(mixed, content_type_col="content_type")
    text_spans = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    media_spans = F.filter(
        "spans", lambda s: s["kind"] == F.lit("media_ref"))
    return res.select(
        "doc_id",
        F.size(text_spans).alias("n_text"),
        F.size(media_spans).alias("n_media"),
        F.array_join(
            F.transform(text_spans, lambda s: s["text"]), ""
        ).alias("full_text"),
        F.array_join(
            F.transform(media_spans, lambda s: s["media_ref"]), ","
        ).alias("media_refs"),
    )


def q_extract_full_text(spark, sf_dir):
    from sparkpdf.operators.spans import doc_full_text

    return doc_full_text(_spans(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "full_text"
    )


def q_docinfo_project(spark, sf_dir):
    from sparkpdf.operators.extract import extract_docinfo

    return extract_docinfo(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title",
        "producer",
        "info_n_pages",
    )


def q_remove_text(spark, sf_dir):
    from sparkpdf.operators.spans import remove_text, span_counts

    return span_counts(remove_text(_spans(spark, sf_dir))).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_text", "n_media", "n_spans"
    )


def q_remove_images(spark, sf_dir):
    from sparkpdf.operators.spans import remove_images, span_counts

    return span_counts(remove_images(_spans(spark, sf_dir))).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_text", "n_media", "n_spans"
    )


def q_merge_docs(spark, sf_dir):
    from sparkpdf.operators.spans import merge_docs

    spans = _spans(spark, sf_dir)
    merged = merge_docs(spans, spans)
    return merged.select("doc_id", F.size("spans").alias("n_spans"))


def q_split_docs(spark, sf_dir):
    from sparkpdf.operators.extract import extract_page_spans
    from sparkpdf.operators.spans import split_pages

    pages = extract_page_spans(_corpus(spark, sf_dir))
    return split_pages(pages).select("doc_id", F.size("spans").alias("n_spans"))


def q_page_count(spark, sf_dir):
    spans = _spans(spark, sf_dir)
    return spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_pages").alias("page_count"),
    )


def q_media_catalog(spark, sf_dir):
    from sparkpdf.operators.spans import media_catalog

    return media_catalog(_spans(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_ref",
        F.col("n_uses").cast("long").alias("n_uses"),
        "first_offset",
    )


def q_form_fields(spark, sf_dir):
    from sparkpdf.operators.extract import extract_form_fields

    return extract_form_fields(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "name",
        "ft",
        "value",
        "flags",
    )


def q_named_dests(spark, sf_dir):
    from sparkpdf.operators.extract import extract_named_dests

    return extract_named_dests(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "name", "page_no", "fit"
    )


def q_outlines(spark, sf_dir):
    from sparkpdf.operators.extract import extract_outlines

    return extract_outlines(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "title", "level", "page_no"
    )


def q_link_annotations(spark, sf_dir):
    from sparkpdf.operators.extract import extract_links

    return extract_links(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_no",
        "uri",
        F.coalesce("dest_page", F.lit(-1)).alias("dest_page"),
    )


def q_write_enriched(spark, sf_dir):
    # D6/A4: write-side bookmarks + URI links + /Info; read everything
    # back through the projection operators
    from sparkpdf.operators.extract import (
        extract_docinfo,
        extract_links,
        extract_outlines,
        extract_spans,
        write_pdfs_enriched,
    )

    # three projections read the same written table: persist (see
    # q_write_navigation)
    enriched = write_pdfs_enriched(extract_spans(_corpus(spark, sf_dir))).persist()
    ol = extract_outlines(enriched).select(
        "doc_id", F.col("title").alias("bm_title")
    )
    ln = extract_links(enriched).select("doc_id", "uri")
    inf = extract_docinfo(enriched).select("doc_id", "title")
    return (
        ol.join(ln, "doc_id")
        .join(inf, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "bm_title",
            "uri",
            "title",
        )
    )


def q_write_encrypted(spark, sf_dir):
    # C6: write-side RC4-128 encryption; decrypt-extract round-trip
    from sparkpdf.operators.extract import extract_spans, write_pdfs_enriched
    from sparkpdf.operators.spans import doc_full_text

    enc = write_pdfs_enriched(
        extract_spans(_corpus(spark, sf_dir)), password=b"sparkpdf-pw"
    )
    back = extract_spans(enc, password=b"sparkpdf-pw")
    return doc_full_text(back).select(
        F.col("doc_id").cast("long").alias("doc_id"), "full_text"
    )


def q_gif_pixel_stats(spark, sf_dir):
    # REAL GIF frame decode (round 4: variable-width LSB LZW + palette
    # expansion + 4-pass de-interlace, kernels/media.py): the planted
    # gray palette makes the decoded mean luminance a pure doc_id
    # formula the oracle restates; odd docs are interlaced
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_gif_media

    feats = extract_media_features(
        synthesize_gif_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_dup_substring_ranges(spark, sf_dir):
    # exact substring-duplication ranges (round 4): maximal char ranges
    # covered by 40-grams that occur >1 time corpus-wide — the
    # 'remove these byte ranges' curation primitive. Spark shuffles on
    # xxhash64(gram); the oracle groups by the gram TEXT itself, so the
    # value-hash also certifies collision-freeness at this scale.
    from sparkpdf.operators.dedup import duplicate_substring_ranges

    return duplicate_substring_ranges(
        _t(spark, sf_dir, "documents"), min_len=40
    )


def q_substring_scrub(spark, sf_dir):
    # the exact-substring dedup TRANSFORM: duplicated ranges cut out of
    # the text JVM-side (F.aggregate fold over the sorted range list).
    # The oracle recomputes removed-char counts and the resulting clean
    # length from the same interval union — a mis-cut segment would
    # shift clean_len and mismatch.
    from sparkpdf.operators.dedup import remove_duplicate_substrings

    out = remove_duplicate_substrings(
        _t(spark, sf_dir, "documents"), min_len=40
    )
    return out.select(
        "doc_id",
        "n_dup_chars",
        F.length("text").alias("clean_len"),
    )


def q_benchmark_contamination(spark, sf_dir):
    # eval-set decontamination (round 4): per doc, how many 5-token
    # windows appear in a benchmark set (here: the texts of docs with
    # doc_id % 97 == 0). Benchmark grams are broadcast — the corpus
    # side never shuffles on content.
    from sparkpdf.operators.text import benchmark_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return benchmark_contamination(docs, bench, n=5)


def q_write_rc4_40(spark, sf_dir):
    # C6 extended (r3 verdict item 6): RC4-40 (V=1 R=2) write with a
    # non-default /P permissions flag; decrypt-extract round-trip. The
    # reference itself decrypts this output (tests/test_write.py).
    from sparkpdf.operators.extract import extract_spans, write_pdfs_enriched
    from sparkpdf.operators.spans import doc_full_text

    enc = write_pdfs_enriched(
        extract_spans(_corpus(spark, sf_dir)),
        password=b"sparkpdf-pw",
        encryption="rc4-40",
        permissions=-44,
    )
    back = extract_spans(enc, password=b"sparkpdf-pw")
    return doc_full_text(back).select(
        F.col("doc_id").cast("long").alias("doc_id"), "full_text"
    )


def q_write_viewer_prefs(spark, sf_dir):
    # P6 write side (r3 verdict item 4): catalog /PageLayout //PageMode
    # written by spans_to_pdf, read back by the engine's own
    # extract_viewer_prefs (reference parity: setPageLayout/setPageMode
    # <-> getPageLayout/getPageMode, tests/test_write.py)
    from sparkpdf.operators.extract import (
        extract_spans,
        extract_viewer_prefs,
        write_pdfs_viewer_prefs,
    )

    written = write_pdfs_viewer_prefs(extract_spans(_corpus(spark, sf_dir)))
    return extract_viewer_prefs(written).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_layout",
        "page_mode",
    )


def q_session_window_native(spark, sf_dir):
    # Spark's built-in gap-based session windows must agree with the
    # lag+cumsum sessionize implementation (30-minute gap)
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w").start.alias("t_start"),
            F.col("w").end.alias("t_end"),
            "n_events",
        )
    )


def q_html_main(spark, sf_dir):
    # north rule's HTML leg: boilerplate strip + DOM heuristics; the
    # planted article must survive byte-exactly, nav/footer/script and
    # the link-dense related block must not
    from sparkpdf.operators.text import extract_html_main
    from sparkpdf.testing.corpora import synthesize_html_corpus

    return extract_html_main(
        synthesize_html_corpus(_t(spark, sf_dir, "documents"))
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"), "title", "main_text"
    )


def _web_features(spark, sf_dir):
    # shared feeder for the round-7 web-feature queries: the RICH
    # deterministic corpus (planted links/meta/headings/tables, all
    # doc_id formulas) through the one-DOM-pass parser; quarantine
    # rows excluded the pdf_embedded_media way (error IS NULL)
    from sparkpdf.operators.text import extract_web_features
    from sparkpdf.testing.corpora import synthesize_web_corpus

    return extract_web_features(
        synthesize_web_corpus(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull())


def q_html_meta(spark, sf_dir):
    # north rule's DOM-heuristics leg, metadata lane: html lang,
    # rel=canonical, description/robots/og:title metas, charset —
    # the URL-canonicalization + indexability signals a crawl
    # pipeline keys on
    return _web_features(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang", "canonical", "description", "robots",
        "og_title", "charset",
    )


def q_html_links(spark, sf_dir):
    # outlink extraction in document order (the crawl-graph feeder):
    # href + anchor text + rel=nofollow + inside-boilerplate flag;
    # explode is map-side, no shuffle anywhere
    feats = _web_features(spark, sf_dir)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("links").alias("link_idx", "l"),
    ).select(
        "doc_id", "link_idx",
        F.col("l.href").alias("href"),
        F.col("l.anchor").alias("anchor"),
        F.col("l.nofollow").alias("nofollow"),
        F.col("l.boiler").alias("boiler"),
    )


def q_html_headings(spark, sf_dir):
    # heading outline h1-h6 with boilerplate flag — the HTML analog
    # of the PDF outlines operator (document structure for chunking)
    feats = _web_features(spark, sf_dir)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("headings").alias("h_idx", "h"),
    ).select(
        "doc_id", "h_idx",
        F.col("h.level").alias("level"),
        F.col("h.text").alias("text"),
        F.col("h.boiler").alias("boiler"),
    )


def q_html_sections(spark, sf_dir):
    # structure-aware chunking: the section stream (main-content
    # heading -> following text until the next heading or the
    # container's end) — the h1 section carries the doc text, each
    # planted h2 its formula body; boilerplate headings never open a
    # section and the related/footer text never leaks in
    feats = _web_features(spark, sf_dir)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("sections").alias("sec_idx", "s"),
    ).select(
        "doc_id", "sec_idx",
        F.col("s.heading").alias("heading"),
        F.col("s.level").alias("level"),
        F.col("s.text").alias("sec_text"),
    )


def q_link_host_degree(spark, sf_dir):
    # web-graph aggregation over extracted outlinks: per-host total /
    # nofollow in-link counts + distinct linking docs — map-side
    # explode + host regexp, partial agg before the one host exchange
    from sparkpdf.operators.text import link_host_degree

    return link_host_degree(_web_features(spark, sf_dir))


def q_pq_topk(spark, sf_dir):
    # round 7: product-quantization ANN (ADC) — per-subspace Lloyd
    # codebooks (6dp-round discipline), corpus compressed to m_sub
    # centroid ids, scores = fixed-order sum of broadcast table
    # lookups; the oracle replays training, encoding and ADC in SQL
    from sparkpdf.operators.similarity import pq_topk

    return pq_topk(_t(spark, sf_dir, "embeddings"))


def q_ivfpq_topk(spark, sf_dir):
    # round 7: the IVF x PQ composition — coarse k-means routing
    # prunes to one inverted list, ADC over PQ codes scores the
    # candidates; the oracle replays BOTH trainings + routing +
    # encoding + ADC in one SQL
    from sparkpdf.operators.similarity import ivfpq_topk

    return ivfpq_topk(_t(spark, sf_dir, "embeddings"))


def q_c4_clean(spark, sf_dir):
    # the C4 cleaning rules (Raffel et al. 2020) as one codegen pass:
    # line filter + page flags + sentence gate restated in SQL
    from sparkpdf.operators.text import c4_clean

    return c4_clean(_t(spark, sf_dir, "documents"))


def q_sitemap_entries(spark, sf_dir):
    # sitemaps.org protocol: urlset entries (loc/lastmod/priority)
    # AND sitemapindex children (d%5==0 docs), namespaced/mixed-case
    # tolerant — every field a doc_id formula
    from sparkpdf.operators.text import extract_sitemap_entries
    from sparkpdf.testing.corpora import synthesize_sitemap_corpus

    return extract_sitemap_entries(
        synthesize_sitemap_corpus(_t(spark, sf_dir, "documents")))


def q_robots_rules(spark, sf_dir):
    # RFC 9309 robots.txt gate: group selection (named group shields
    # the agent from the '*' group), longest-match rules with allow
    # winning ties, anchored wildcards, crawl-delay + sitemaps —
    # every signal a pure doc_id formula
    from sparkpdf.operators.text import extract_robots_rules
    from sparkpdf.testing.corpora import synthesize_robots_corpus

    return extract_robots_rules(
        synthesize_robots_corpus(_t(spark, sf_dir, "documents")))


def q_url_canonical(spark, sf_dir):
    # URL canonicalization (the crawl frontier/dedup key) as a pure
    # JVM expression: six formula-planted variants cover case folding,
    # default-port strip, fragment drop, '.'/'..' fold, duplicate
    # -slash collapse, empty path and non-default-port preservation;
    # the oracle states input AND expected output directly
    from sparkpdf.operators.text import canonical_url

    d = F.col("doc_id").cast("long")
    ds = d.cast("string")
    url = (
        F.when(d % 6 == 0, F.concat(F.lit("HTTP://WWW.Example.COM/path/"), ds))
        .when(d % 6 == 1, F.concat(F.lit("https://example.com:443/a/b/../c/"), ds))
        .when(d % 6 == 2, F.concat(F.lit("http://example.com:80/./x/"), ds, F.lit("#sec"), ds))
        .when(d % 6 == 3, F.concat(F.lit("https://Example.com/x//y/"), ds, F.lit("?q="), ds))
        .when(d % 6 == 4, F.lit("http://EXAMPLE.com"))
        .otherwise(F.concat(F.lit("https://example.com:8080/p/../"), ds))
    )
    return _t(spark, sf_dir, "documents").select(
        d.alias("doc_id"),
        url.alias("url"),
        canonical_url(url).alias("canonical"),
    )


def q_pq_recall(spark, sf_dir):
    # recall@3 of PQ/ADC against the exact cosine baseline — the
    # compression-quality metric as an oracle-replayable query (the
    # ann_recall pattern over the pq scorer)
    from sparkpdf.operators.similarity import brute_force_topk, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, n_queries=4, k=3).select(
        "query_id", "neighbor_id"
    )
    approx = pq_topk(emb).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h", F.lit(0)).cast("int").alias("n_hits"),
            F.round(F.coalesce("h", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


def q_ivfpq_residual_topk(spark, sf_dir):
    # round 8: residual IVFPQ (IVFADC) over the CLUSTERED synthetic
    # corpus — PQ codebooks spend their bits on within-list structure;
    # L2 ADC from the query residual (the IP-LUT bias is measured and
    # documented in the operator docstring)
    from sparkpdf.operators.similarity import ivfpq_residual_topk
    from sparkpdf.testing.corpora import synthesize_clustered_embeddings

    return ivfpq_residual_topk(
        synthesize_clustered_embeddings(_t(spark, sf_dir, "embeddings"))
    )


def q_ivfpq_recall_clustered(spark, sf_dir):
    # round 8: recall@3 of residual IVFPQ vs the exact cosine baseline
    # on the clustered corpus — the HONEST quality signal (pq_recall
    # on iid vectors stays as the documented adversarial worst case);
    # 1.0 per query by the corpus's duplicate-group construction
    from sparkpdf.operators.similarity import (
        brute_force_topk,
        ivfpq_residual_topk,
    )
    from sparkpdf.testing.corpora import synthesize_clustered_embeddings

    cl = synthesize_clustered_embeddings(_t(spark, sf_dir, "embeddings"))
    exact = brute_force_topk(cl, n_queries=4, k=3).select(
        "query_id", "neighbor_id"
    )
    approx = ivfpq_residual_topk(cl).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h", F.lit(0)).cast("int").alias("n_hits"),
            F.round(F.coalesce("h", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


def q_gopher_quality(spark, sf_dir):
    # the Gopher filter rules (Rae et al. 2021) as one codegen pass:
    # every signal and the conjunctive pass flag restated in SQL
    from sparkpdf.operators.text import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


def q_warc_pages(spark, sf_dir):
    # round 7: WARC source end-to-end — build a REAL archive per doc
    # (warcinfo + request + response, odd docs in the CommonCrawl
    # per-record-gzip layout), demux the response records
    # (sources/warc_source.warc_pages), then prove the HTTP payload
    # survived byte-exactly by running the DOM parser on it: og_title
    # and lang must match their planted formulas
    from sparkpdf.operators.text import extract_web_features
    from sparkpdf.sources.warc_source import warc_pages
    from sparkpdf.testing.corpora import synthesize_warc_corpus

    pages = warc_pages(
        synthesize_warc_corpus(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull())
    feats = extract_web_features(
        pages.select(
            F.split("doc_id", "#")[0].alias("doc_id"), "html"
        )
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "og_title", "lang",
    )
    return pages.select(
        F.split("doc_id", "#")[0].cast("long").alias("doc_id"),
        "url", "http_status", "content_type",
    ).join(feats, "doc_id")


def q_html_tables(spark, sf_dir):
    # <table> shape extraction (structured data in webpages): row
    # count, max row width, row-major cell text; only d%3==0 docs
    # plant a table, so the query also proves absent tables emit
    # zero rows rather than NULL rows
    feats = _web_features(spark, sf_dir)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("tables").alias("table_idx", "t"),
    ).select(
        "doc_id", "table_idx",
        F.col("t.n_rows").alias("n_rows"),
        F.col("t.n_cols").alias("n_cols"),
        F.col("t.cells").alias("cells"),
    )


def q_chunk_documents(spark, sf_dir):
    from sparkpdf.operators.text import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


def q_pii_scrub(spark, sf_dir):
    # plant deterministic PII so the scrub regexes are exercised on
    # every row (the synthetic corpus has none of its own)
    from sparkpdf.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 55512345"),
            F.col("doc_id").cast("string"),
            F.lit(" ssn 123-45-6789 tel (555) 123-4567"),
        ).alias("text"),
    )
    return pii_scrub(docs)


def q_ann_ivf_nprobe2(spark, sf_dir):
    # the recall/cost knob: probe the 2 nearest inverted lists
    from sparkpdf.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), nprobe=2)


def q_dup_clusters(spark, sf_dir):
    # connected components over LSH candidate pairs (min-label
    # propagation; singletons keep their own id)
    from sparkpdf.operators.dedup import dup_clusters

    return dup_clusters(_t(spark, sf_dir, "documents"))


def q_dup_clusters_verified(spark, sf_dir):
    # production shape: exact jaccard verify between LSH and the
    # component graph (unverified candidates chain transitively).
    # Round 8: the verify ships bounded K-token signatures with
    # conclusive prefix brackets + exact fallback (dedup.py
    # _bounded_jaccard_verify) — the oracle is UNCHANGED, which is
    # the proof the bounded decision equals the full-array verify
    from sparkpdf.operators.dedup import dup_clusters

    return dup_clusters(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.9
    )


def q_ivf_kmeans_topk(spark, sf_dir):
    # IVF with REAL Lloyd iterations (round-1 used first-N stand-ins)
    from sparkpdf.operators.similarity import ivf_kmeans_topk

    return ivf_kmeans_topk(_t(spark, sf_dir, "embeddings"))


def q_overlay_rename(spark, sf_dir):
    # J7: overlaying a page on itself collides every media_ref; the
    # rename-map must emit 'img00' + 'img00~1'
    from sparkpdf.operators.extract import extract_page_spans
    from sparkpdf.operators.spans import overlay_pages

    pages = extract_page_spans(_corpus(spark, sf_dir))
    merged = overlay_pages(pages, pages)
    refs = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == "media_ref"),
            lambda s: s["media_ref"],
        ),
        ",",
    )
    return merged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        refs.alias("media_refs"),
    )


def q_write_form_fill(spark, sf_dir):
    # updatePageFormFieldValues analog: write filled text fields, read
    # them back through the AcroForm projection
    from sparkpdf.operators.extract import (
        extract_form_fields,
        extract_spans,
        write_pdfs_enriched,
    )

    enriched = write_pdfs_enriched(extract_spans(_corpus(spark, sf_dir)))
    return extract_form_fields(enriched).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "name",
        "value",
        "ft",
    )


def q_write_aes256(spark, sf_dir):
    # V=5/R=6 AES-256 (PDF 2.0) write -> decrypt-extract round trip;
    # the reference rejects V>3 entirely — this exceeds it
    from sparkpdf.operators.extract import extract_spans, write_pdfs_enriched
    from sparkpdf.operators.spans import doc_full_text

    enc = write_pdfs_enriched(
        extract_spans(_corpus(spark, sf_dir)),
        password=b"sparkpdf-pw",
        encryption="aes-256",
    )
    back = extract_spans(enc, password=b"sparkpdf-pw")
    return doc_full_text(back).select(
        F.col("doc_id").cast("long").alias("doc_id"), "full_text"
    )


def q_write_navigation(spark, sf_dir):
    # D6 completion (r2 verdict items 3/4/8): nested outline tree,
    # internal GoTo link, named destination, and addJS — written per
    # doc, then read back through four projections
    from sparkpdf.operators.extract import (
        extract_javascript,
        extract_links,
        extract_named_dests,
        extract_outlines,
        extract_spans,
        write_pdfs_navigation,
    )

    # four projections read the same written table: persist it so one
    # driver action runs the write kernel once, not four times
    nav = write_pdfs_navigation(extract_spans(_corpus(spark, sf_dir))).persist()
    ol = (
        extract_outlines(nav)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(F.concat_ws(":", "title", "level", "page_no"))
                ),
                ",",
            ).alias("outline")
        )
    )
    links = extract_links(nav)
    goto = links.filter(F.col("dest_page").isNotNull()).select(
        "doc_id", "dest_page"
    )
    uri = links.filter(F.col("uri").isNotNull()).select("doc_id", "uri")
    nd = extract_named_dests(nav).select(
        "doc_id",
        F.col("name").alias("nd_name"),
        F.col("page_no").alias("nd_page"),
    )
    js = extract_javascript(nav).select("doc_id", "js")
    return (
        ol.join(nd, "doc_id")
        .join(goto, "doc_id")
        .join(uri, "doc_id")
        .join(js, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "outline",
            "nd_name",
            "nd_page",
            "dest_page",
            "uri",
            "js",
        )
    )


def q_attachments(spark, sf_dir):
    # read side of addAttachment: write docs with embedded files, read
    # them back (filename + size + digest)
    from sparkpdf.operators.extract import (
        extract_attachments,
        extract_spans,
        write_pdfs_enriched,
    )

    enriched = write_pdfs_enriched(extract_spans(_corpus(spark, sf_dir)))
    return extract_attachments(enriched).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "filename",
        "n_bytes",
        "sha8",
    )


def q_xmp_project(spark, sf_dir):
    # P7: XMP metadata projection — full getter surface (reference
    # xmp.py:212-390): seq creators, bag subjects, pdf:Keywords/
    # PDFVersion, xmp:CreatorTool/MetadataDate, xmpMM:DocumentID and
    # the pdfx custom key with the U+2182 unescape
    from sparkpdf.operators.extract import extract_xmp

    return extract_xmp(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "xmp_title",
        "xmp_producer",
        "create_date",
        "modify_date",
        "creators",
        "subjects",
        "keywords",
        "pdfversion",
        "creator_tool",
        "metadata_date",
        "document_id",
        "custom_car",
    )


def q_viewer_prefs(spark, sf_dir):
    # P6: catalog /PageLayout + /PageMode (getPageLayout/getPageMode)
    from sparkpdf.operators.extract import extract_viewer_prefs

    return extract_viewer_prefs(_corpus(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_layout",
        "page_mode",
    )


def q_remove_links(spark, sf_dir):
    # P10: removeLinks — rewritten docs carry ZERO link annotations
    # while full_text is preserved byte-for-byte
    from sparkpdf.operators.extract import extract_links
    from sparkpdf.operators.spans import doc_full_text, remove_links

    corpus = _corpus(spark, sf_dir)
    before = (
        extract_links(corpus)
        .groupBy("doc_id")
        .agg(F.count("*").alias("links_before"))
    )
    cleaned = remove_links(corpus)
    after_links = (
        extract_links(cleaned)
        .groupBy("doc_id")
        .agg(F.count("*").alias("links_after"))
    )
    from sparkpdf.operators.extract import extract_spans

    after_text = doc_full_text(extract_spans(cleaned)).select(
        "doc_id", "full_text"
    )
    return (
        before.join(after_text, "doc_id")
        .join(after_links, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("links_before").cast("long").alias("links_before"),
            F.coalesce(F.col("links_after"), F.lit(0))
            .cast("long")
            .alias("links_after"),
            "full_text",
        )
    )


def q_overlay_pages(spark, sf_dir):
    from sparkpdf.operators.extract import extract_page_spans
    from sparkpdf.operators.spans import overlay_pages

    pages = extract_page_spans(_corpus(spark, sf_dir))
    return overlay_pages(pages, pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_no",
        F.size("spans").alias("n_spans"),
    )


def _paged(spark, sf_dir, n_pages=3):
    from sparkpdf.operators.extract import extract_page_spans
    from sparkpdf.testing.corpora import synthesize_paged_corpus

    return extract_page_spans(
        synthesize_paged_corpus(_t(spark, sf_dir, "documents"), n_pages)
    )


def _page_text_col():
    return F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        "",
    )


def q_split_docs_multi(spark, sf_dir):
    # D5 at page granularity: 3-page docs -> 3 single-page docs each,
    # page text preserved
    pages = _paged(spark, sf_dir)
    from sparkpdf.operators.spans import split_pages

    return split_pages(pages).select("doc_id", _page_text_col().alias("page_text"))


def q_page_range_extract(spark, sf_dir):
    # P11/O3 over real extracted pages: 0:3:2 keeps pages 0 and 2
    from sparkpdf.operators.spans import page_range

    pages = _paged(spark, sf_dir)
    return page_range(pages, 0, 3, 2).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_no",
        _page_text_col().alias("page_text"),
    )


def q_insert_page(spark, sf_dir):
    # O4 positional insert: splice each doc's page 0 copy at position 1
    from sparkpdf.operators.spans import insert_pages

    pages = _paged(spark, sf_dir).select("doc_id", "page_no", "spans")
    first = pages.filter(F.col("page_no") == 0)
    out = insert_pages(pages, first, position=1)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page_no",
        _page_text_col().alias("page_text"),
    )


def q_extract_stats(spark, sf_dir):
    # round 9: fused synth+stats — one python layer, scalars-only IPC
    from sparkpdf.testing.corpora import synthesize_and_extract_stats

    return synthesize_and_extract_stats(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_pages",
        "n_text",
        "n_media",
        "n_chars",
    )


def q_write_roundtrip(spark, sf_dir):
    # K1 inverse: extract -> WRITE real PDFs -> re-extract; full text
    # must equal the direct-extraction oracle
    from sparkpdf.operators.extract import extract_spans, write_pdfs
    from sparkpdf.operators.spans import doc_full_text

    again = extract_spans(write_pdfs(_spans(spark, sf_dir)))
    return doc_full_text(again).select(
        F.col("doc_id").cast("long").alias("doc_id"), "full_text"
    )


# --- relational analogs on the TPC-H-ish tables ------------------------------

def q_form_text_filter(spark, sf_dir):
    # P3: literal filter+project (getFormTextFields analog)
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_obj_join(spark, sf_dir):
    # J1: xref probe == equi-join orders->customer
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_orders"))
    )


def q_font_join(spark, sf_dir):
    # J2: broadcast dimension join (font table analog = part)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_pageno_join(spark, sf_dir):
    # J3: build/probe hash join chain supplier->nation->region
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"))
    )


def q_dest_semijoin(spark, sf_dir):
    # J5: left-semi (trim dests to selected pages analog)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_resource_merge(spark, sf_dir):
    # J6: full-outer merge of two keyed resource sets
    big = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") > 40)
        .select(F.col("p_partkey").alias("k"), F.col("p_size").alias("size_a"))
    )
    pricey = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_retailprice") > 1500)
        .select(F.col("p_partkey").alias("k"), F.col("p_size").alias("size_b"))
    )
    return (
        big.join(pricey, "k", "full_outer")
        .select(
            "k",
            F.coalesce("size_a", F.lit(-1)).alias("size_a"),
            F.coalesce("size_b", F.lit(-1)).alias("size_b"),
        )
    )


def q_text_agg(spark, sf_dir):
    # A2: ORDERED string aggregation (extractText assembly analog).
    # sort_array over collected (key, val) structs gives a deterministic
    # order without a window shuffle.
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("o_orderkey"))
                    ),
                    lambda s: s["o_orderkey"].cast("string"),
                ),
                ",",
            ).alias("order_keys")
        )
    )


def q_procset_union(spark, sf_dir):
    # A3/U3: set union of per-group name arrays
    # joined to a comma string: the driver canonicalizer sorts pandas
    # frames and cannot hash raw ARRAY cells (round-1 red row)
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.array_distinct(F.collect_list("c_mktsegment"))),
                ",",
            ).alias("segments")
        )
    )


def q_page_range_filter(spark, sf_dir):
    # P11/O3: start:stop:step slice with stride
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_linenumber") >= 2)
            & (F.col("l_linenumber") < 7)
            & ((F.col("l_linenumber") - 2) % 2 == 0)
        )
        .groupBy("l_linenumber")
        .agg(F.count("*").alias("n_rows"))
    )


def q_merge_union(spark, sf_dir):
    # U1: ordered UNION ALL of two page-sets analog
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("hi").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") < 10000).select(
        "o_orderkey", F.lit("lo").alias("bucket")
    )
    return hi.unionByName(lo).groupBy("bucket").agg(F.count("*").alias("n_orders"))


def q_pricing_summary(spark, sf_dir):
    # TPC-H Q1 shape: wide aggregate with derived measures, grouped on
    # low-cardinality keys (partial agg -> single small shuffle)
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def q_shipping_priority(spark, sf_dir):
    # TPC-H Q3 shape: selective filters on both sides of a join chain,
    # then top-N by revenue
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5 shape: star join across 5 tables with broadcast dims
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


def q_events_window(spark, sf_dir):
    # time-windowed aggregation (batch analog of the streaming shape)
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- training-data pipeline operators ---------------------------------------

def q_stream_events_window(spark, sf_dir):
    # the SAME rollup as events_window, but through Structured
    # Streaming (readStream -> watermark -> tumbling window -> memory
    # sink, availableNow drain) — stream/batch equivalence IS the check
    from sparkpdf.streaming.windows import stream_event_windows

    return stream_event_windows(spark, f"{sf_dir}/events.parquet")


def q_dedup_exact(spark, sf_dir):
    from sparkpdf.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash(spark, sf_dir):
    from sparkpdf.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    from sparkpdf.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_simhash(spark, sf_dir):
    from sparkpdf.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    from sparkpdf.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


def q_ann_cosine_topk(spark, sf_dir):
    from sparkpdf.operators.similarity import brute_force_topk

    return brute_force_topk(_t(spark, sf_dir, "embeddings"))


def q_ann_lsh_topk(spark, sf_dir):
    from sparkpdf.operators.similarity import lsh_bucket_topk

    return lsh_bucket_topk(_t(spark, sf_dir, "embeddings"))


def q_simhash_pairs(spark, sf_dir):
    from sparkpdf.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_sessionize(spark, sf_dir):
    from sparkpdf.operators.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


def q_ann_ivf_topk(spark, sf_dir):
    from sparkpdf.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"))


def q_embedding_near_dups(spark, sf_dir):
    from sparkpdf.operators.similarity import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"))


def q_lang_id(spark, sf_dir):
    from sparkpdf.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    from sparkpdf.operators.text import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    from sparkpdf.operators.text import token_count

    return token_count(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    from sparkpdf.operators.text import doc_fingerprint

    return doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_multimodal_features(spark, sf_dir):
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_media

    return extract_media_features(
        synthesize_media(_t(spark, sf_dir, "documents"))
    ).select("doc_id", "media_ref", "width", "height", "n_bytes", "sha8")


def q_ccitt_ink_ratio(spark, sf_dir):
    # F8 closed: full T.6 MMR pixel decode of Group-4 TIFF payloads;
    # the oracle restates the planted black-rectangle ratio by formula
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_g4_media

    return extract_media_features(
        synthesize_g4_media(_t(spark, sf_dir, "documents"))
    ).select("doc_id", "width", "height", "ink_ratio")


def q_media_dims(spark, sf_dir):
    # REAL header decode: dims parsed from the PNG IHDR / JPEG SOF bytes
    # (kernels/media.py); the oracle restates them by formula
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_image_media

    return extract_media_features(
        synthesize_image_media(_t(spark, sf_dir, "documents"))
    ).select("doc_id", F.col("format").alias("fmt"), "width", "height")


def q_repetition_ratio(spark, sf_dir):
    # boilerplate/spam signal: within-doc token repetition
    from sparkpdf.operators.text import repetition_ratio

    return repetition_ratio(_t(spark, sf_dir, "documents"))


def q_duplicate_ngrams(spark, sf_dir):
    # contamination/memorization check: 5-grams shared across >= 2 docs
    from sparkpdf.operators.text import duplicate_ngrams

    return duplicate_ngrams(_t(spark, sf_dir, "documents"))


def q_png_pixel_stats(spark, sf_dir):
    # REAL PNG pixel decode (zlib + in-house PNG row filters): mean
    # ITU-R 601 luminance in integer arithmetic, restated pixel-by-pixel
    # in SQL — the engine must actually unfilter the scanlines to match
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_image_media

    feats = extract_media_features(
        synthesize_image_media(_t(spark, sf_dir, "documents"))
    )
    return feats.filter(F.col("format") == "png").select(
        "doc_id", "width", "height", "mean_luma"
    )


def q_jpeg_pixel_stats(spark, sf_dir):
    # REAL baseline-JPEG pixel decode (from-scratch T.81 Huffman+IDCT,
    # kernels/jpeg.py — the reference passes ALL DCT payloads through
    # undecoded): flat even-offset tiles survive Annex-K quantization
    # exactly, so the oracle restates the decoded mean in SQL
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_jpeg_media

    feats = extract_media_features(
        synthesize_jpeg_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_jpeg12_pixel_stats(spark, sf_dir):
    # 12-BIT JPEG pixel decode (SOF1 extended sequential on even docs,
    # SOF2 progressive on odd, 16-bit DQT, 2048 level shift —
    # kernels/jpeg.py r5): planted tiles at 16x the 8-bit corpus
    # values survive the x16-scaled Annex-K quantization exactly, so
    # the oracle mean is exactly 16x the 8-bit formula
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_jpeg12_media

    feats = extract_media_features(
        synthesize_jpeg12_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_hash_split(spark, sf_dir):
    # deterministic md5-bucket train/val split (round 5): stable
    # across runs/engines/partitionings; ~10% val at the default
    from sparkpdf.operators.text import hash_split

    return hash_split(_t(spark, sf_dir, "documents"))


def q_line_dedup(spark, sf_dir):
    # C4/RefinedWeb-style corpus-wide line dedup (round 5): the
    # corpus's one-line docs make this global first-occurrence text
    # dedup; multi-line behavior is pytest-pinned
    from sparkpdf.operators.dedup import remove_duplicate_lines

    return remove_duplicate_lines(_t(spark, sf_dir, "documents"))


def q_bigram_surprisal(spark, sf_dir):
    # KenLM-style fluency approximation (round 5): corpus-MLE bigram
    # conditionals, micro-unit-quantized surprisal mean. shape='auto'
    # (round 7): picks the flat occ_join at this vocab size, head/tail
    # at scale — both hash-identical by construction
    from sparkpdf.operators.text import bigram_surprisal

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


def q_token_rarity(spark, sf_dir):
    # IDF-style corpus-frequency quality signal (round 5): partial-agg
    # vocabulary count + AQE-splittable frequency join; per-token
    # -log10 rounded 6dp before averaging on BOTH engines
    from sparkpdf.operators.text import token_rarity_score

    return token_rarity_score(_t(spark, sf_dir, "documents"))


def q_gif_anim_stats(spark, sf_dir):
    # ANIMATED GIF metadata + first-frame decode (round 5,
    # kernels/media.gif_frames_info): frame count and summed GCE
    # delays from the real block walk, mean luminance from the LZW
    # frame decode; all pure doc_id formulas for the oracle
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_animated_gif_media

    feats = extract_media_features(
        synthesize_animated_gif_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select(
        "doc_id", "width", "height", "n_frames", "duration_ms", "mean_luma"
    )


def q_tiff_pixel_stats(spark, sf_dir):
    # EIGHT TIFF organizations over identical luma (rounds 5-7): plain
    # strips, LZW+predictor strips, LZW tiles (322-325), lossless-JPEG
    # strips (compression 7), RGB PLANAR strips (tag 284=2), planar x
    # tiled, planar x JPEG strips, and OLD-style JPEG (compression 6,
    # tags 513/514 — the VERDICT-r6 'missing #3' corner) — one oracle
    # formula certifies all eight decode paths at once
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_tiff_media

    feats = extract_media_features(
        synthesize_tiff_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_bmp_pixel_stats(spark, sf_dir):
    # round 7: REAL BMP decode across the three uncompressed DIB
    # variants (24-bit bottom-up / 24-bit top-down / 8-bit over a
    # TWISTED palette) — same raster math as the AVI '00db' video
    # lane, under the BMP file header; one formula oracle, with the
    # palette indirection folded in on the d%3==2 lane
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_bmp_media

    feats = extract_media_features(
        synthesize_bmp_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_pnm_pixel_stats(spark, sf_dir):
    # round 7: REAL binary-netpbm decode (P5 gray 8-bit / P6 RGB /
    # P5 16-bit big-endian at native depth — the jpeg12 discipline:
    # 16-bit mean is exactly 257x the 8-bit formula)
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_pnm_media

    feats = extract_media_features(
        synthesize_pnm_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_webp_dims(spark, sf_dir):
    # WebP header coverage: VP8 / VP8L / VP8X encode dims three
    # different ways; header-only BY DESIGN (VP8 entropy decode is
    # conformance-vector-blocked — the arithmetic-JPEG rationale), so
    # pixel stats stay NULL and dims/format/digest flow
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_webp_media

    feats = extract_media_features(
        synthesize_webp_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "format", "width", "height")


def q_jp2_dims(spark, sf_dir):
    # round 8: JPEG 2000 header coverage — the one PDF-native payload
    # format (/JPXDecode, reference filters.py:321-330 passthrough)
    # that had no sniffer. Three layouts (raw j2k codestream / jp2
    # container / XLBox-length jp2c) store dims in different
    # structures; header-only BY DESIGN (EBCOT/MQ entropy decode is
    # conformance-vector-blocked — the WebP rationale), so pixel
    # stats stay NULL and dims/bit-depth flow
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_jp2_media

    feats = extract_media_features(
        synthesize_jp2_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "format", "width", "height", "bits")


def q_pdf_embedded_jp2(spark, sf_dir):
    # round 8: the JPX payload in its NATIVE context — build jp2 ->
    # embed as a /JPXDecode XObject (the reference's passthrough
    # filter) -> reopen the PDF -> pull the payload -> header parse;
    # proves the payload survives the write/read round-trip
    # byte-exactly for all three jp2 layouts
    from sparkpdf.operators.multimodal import (
        extract_media_features,
        extract_media_payloads,
    )
    from sparkpdf.testing.corpora import write_pdfs_with_jp2_media

    pdfs = write_pdfs_with_jp2_media(_t(spark, sf_dir, "documents"))
    payloads = extract_media_payloads(pdfs)
    feats = extract_media_features(
        payloads.filter(F.col("error").isNull()).drop("error")
    )
    return feats.select(
        "doc_id",
        "media_ref",
        F.col("format").alias("fmt"),
        "width",
        "height",
        "bits",
    )


def q_tga_ico_pixel_stats(spark, sf_dir):
    # round 7: REAL TGA decode (gray / truecolor-RLE / palettized over
    # a twisted colormap) + ICO first-image decode (classic
    # doubled-height DIB entry AND a PNG-compressed entry through the
    # full PNG path) — five container/codec lanes, one formula oracle
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_tga_ico_media

    feats = extract_media_features(
        synthesize_tga_ico_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_jpeg_lossless_stats(spark, sf_dir):
    # LOSSLESS JPEG (SOF3, Annex H) pixel decode: 12-bit gray, a
    # different predictor selector per doc (1 + d%7) — decode is exact
    # for every selector, so the oracle mean is the planted row formula
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_lossless_jpeg_media

    feats = extract_media_features(
        synthesize_lossless_jpeg_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("doc_id", "width", "height", "mean_luma")


def q_pdf_embedded_media(spark, sf_dir):
    # END-TO-END media chain, all in-engine: encode a real baseline
    # JPEG -> embed as a PDF XObject -> reopen the PDF -> pull the
    # payload (extract_media_payloads) -> full Huffman+IDCT decode ->
    # stats; the oracle restates the planted tile formulas
    from sparkpdf.operators.multimodal import (
        extract_media_features,
        extract_media_payloads,
    )
    from sparkpdf.testing.corpora import write_pdfs_with_jpeg_media

    pdfs = write_pdfs_with_jpeg_media(_t(spark, sf_dir, "documents"))
    payloads = extract_media_payloads(pdfs)  # error col = quarantine lane
    feats = extract_media_features(
        payloads.filter(F.col("error").isNull()).drop("error")
    )
    return feats.select(
        "doc_id",
        "media_ref",
        F.col("format").alias("fmt"),
        "width",
        "height",
        "mean_luma",
    )


def q_ann_recall(spark, sf_dir):
    # recall@3 of IVF(nprobe=2) against the exact cosine baseline —
    # the ANN quality metric as a first-class, oracle-replayable query
    from sparkpdf.operators.similarity import brute_force_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, n_queries=4, k=3).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(emb, nprobe=2).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h", F.lit(0)).cast("int").alias("n_hits"),
            F.round(F.coalesce("h", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


def q_av_media_features(spark, sf_dir):
    # audio/video stub CLOSED (r2 verdict item 7): REAL WAV/RIFF chunk
    # and MP4/ISO-BMFF box parsing (kernels/media.py); the oracle
    # restates the planted container metadata by formula
    from sparkpdf.operators.multimodal import extract_media_features
    from sparkpdf.testing.corpora import synthesize_av_media

    return extract_media_features(
        synthesize_av_media(_t(spark, sf_dir, "documents"))
    ).select(
        "doc_id",
        "modality",
        F.col("format").alias("fmt"),
        "duration_ms",
        F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
        F.coalesce("width", F.lit(-1)).alias("width"),
        F.coalesce("height", F.lit(-1)).alias("height"),
        F.coalesce("bits", F.lit(-1)).alias("bits"),
    )


def q_wav_pcm_stats(spark, sf_dir):
    # round 6: SAMPLE-level audio decode (beyond container headers) —
    # every WAV body sample decoded (16/8-bit PCM squares + G.711
    # mu-law/A-law via the public closed-form expansion); the oracle
    # restates the planted waveforms' exact rms/peak/mean by formula
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_wav_pcm_media

    return extract_audio_pcm_features(
        synthesize_wav_pcm_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_flac_pcm_stats(spark, sf_dir):
    # round 7: REAL FLAC frame decode (STREAMINFO + frame headers +
    # CONSTANT/VERBATIM/FIXED/LPC subframes + rice residuals incl.
    # escapes + mid-side decorrelation, CRC-8/16 verified) — the
    # oracle restates the planted lossless waveforms' exact stats
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_flac_pcm_media

    return extract_audio_pcm_features(
        synthesize_flac_pcm_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_attachment_audio_stats(spark, sf_dir):
    # round 7: END-TO-END attachment media — each doc's WAV waveform
    # rides INSIDE a written PDF as an embedded file (/Names
    # /EmbeddedFiles); the engine must serialize the PDF, re-parse it
    # (xref/COS), walk the name tree, Flate-decode the stream, then
    # sample-decode the RIFF payload. Same closed-form oracle as
    # wav_pcm_stats — the PDF round-trip must be byte-lossless.
    from sparkpdf.operators.multimodal import (
        extract_attachment_media,
        extract_audio_pcm_features,
    )
    from sparkpdf.testing.corpora import synthesize_attachment_pdf_media

    media = extract_attachment_media(
        synthesize_attachment_pdf_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("modality") == "audio")
    return extract_audio_pcm_features(media).filter(
        F.col("error").isNull()
    ).select("doc_id", "n_samples", "rms", "peak", "mean")


def q_video_frame_stats(spark, sf_dir):
    # round 7: REAL per-frame video decode — MJPEG in all three
    # classic containers (RIFF/AVI movi walk; ISO-BMFF MP4
    # sample-table demux; Matroska SimpleBlocks) PLUS uncompressed
    # BI_RGB DIB frames in AVI (24-bit BGR top-down/bottom-up and
    # 8-bit palettized), rotating by d%5. The planted uniform
    # even-gray tiles decode losslessly in every lane, so one
    # generate_series oracle covers all demux+decode paths.
    from sparkpdf.operators.multimodal import extract_video_frame_features
    from sparkpdf.testing.corpora import synthesize_mjpeg_media

    return extract_video_frame_features(
        synthesize_mjpeg_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "frame_idx", "width", "height", "mean_luma"
    )


def q_aiff_au_pcm_stats(spark, sf_dir):
    # round 7: big-endian audio containers — AIFF (IFF chunk walk,
    # 80-bit extended sample rate, signed PCM at every depth) and
    # Sun/NeXT AU (.snd header; linear BE + G.711 lanes). The oracle
    # restates the planted squares' exact stats; the engine must
    # parse the containers and decode every big-endian sample.
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_bigendian_audio_media

    return extract_audio_pcm_features(
        synthesize_bigendian_audio_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_audio_segment_stats(spark, sf_dir):
    # round 7: per-segment audio features — the decoded WAV stream
    # sliced into 64-sample windows, exact-int stats per segment. The
    # corpus aligns loud/silent blocks to segment boundaries, so
    # every row is closed-form over a generate_series cross join.
    from sparkpdf.operators.multimodal import extract_audio_segments
    from sparkpdf.testing.corpora import synthesize_segmented_wav_media

    return extract_audio_segments(
        synthesize_segmented_wav_media(_t(spark, sf_dir, "documents")),
        segment_samples=64,
    ).filter(F.col("error").isNull()).select(
        "doc_id", "seg_idx", "n_samples", "rms", "peak", "mean"
    )


def q_audio_silence_spans(spark, sf_dir):
    # round 7: gaps-and-islands silence detection over the segment
    # rows (seg_idx - row_number grouping, one doc-partitioned window
    # + one partial-agg groupBy, all JVM-side). Span positions are
    # closed-form: repeat j's silent run starts at j*(L+Q)+L.
    from sparkpdf.operators.multimodal import (
        detect_silence_spans,
        extract_audio_segments,
    )
    from sparkpdf.testing.corpora import synthesize_segmented_wav_media

    segs = extract_audio_segments(
        synthesize_segmented_wav_media(_t(spark, sf_dir, "documents")),
        segment_samples=64,
    )
    return detect_silence_spans(segs, rms_threshold=0.01).select(
        "doc_id", "media_ref", "span_start", "span_end", "n_segs"
    )


def q_video_scene_cuts(spark, sf_dir):
    # round 7: scene-cut detection — decoded frame features feed a
    # JVM lag window per doc (whole-stage codegen; Python ends at
    # pixel decode). The planted gray sequence g_i = 16 + 2*((d +
    # 37*i) % 112) makes every delta a closed form the oracle
    # restates over a generate_series cross join.
    from sparkpdf.operators.multimodal import (
        detect_scene_cuts,
        extract_video_frame_features,
    )
    from sparkpdf.testing.corpora import synthesize_mjpeg_media

    frames = extract_video_frame_features(
        synthesize_mjpeg_media(_t(spark, sf_dir, "documents")))
    return detect_scene_cuts(frames, threshold=60.0).select(
        "doc_id", "frame_idx", "mean_luma", "prev_luma", "delta"
    )


def q_mp4_audio_stats(spark, sf_dir):
    # round 7: PCM-in-MP4 (QuickTime uncompressed sample entries
    # sowt/twos/in24/raw) — the engine resolves the ISO-BMFF sample
    # table (stsc runs x stco x stsz) and decodes every PCM sample;
    # compressed codecs (mp4a) quarantine. Closed-form squares.
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_mp4_pcm_media

    return extract_audio_pcm_features(
        synthesize_mp4_pcm_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_ogg_flac_stats(spark, sf_dir):
    # round 7: Ogg-encapsulated FLAC (the public FLAC-to-Ogg
    # mapping) — the engine must walk RFC 3533 pages (CRC-verified),
    # reassemble packets through lacing incl. page-spanning
    # continuations, rebuild the native stream and run the full FLAC
    # frame decode. Closed-form squares: rms = peak = k/8, mean 0.
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_ogg_flac_media

    return extract_audio_pcm_features(
        synthesize_ogg_flac_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_adpcm_pcm_stats(spark, sf_dir):
    # round 7: ADPCM decode (WAV formats 2 + 17 — the two classic
    # compressed WAV codecs, public integer adaptation tables). The
    # nibble streams are constructed so the spec state machines land
    # on closed-form waveforms the oracle restates per variant;
    # the engine must parse the extended fmt chunk, walk the blocks
    # and run the IMA/MS adaptation state to match.
    from sparkpdf.operators.multimodal import extract_audio_pcm_features
    from sparkpdf.testing.corpora import synthesize_adpcm_media

    return extract_audio_pcm_features(
        synthesize_adpcm_media(_t(spark, sf_dir, "documents"))
    ).filter(F.col("error").isNull()).select(
        "doc_id", "n_samples", "rms", "peak", "mean"
    )


def q_stratified_sample(spark, sf_dir):
    # round 6: deterministic per-stratum downsampling (corpus
    # rebalancing) composed with lang_id — stable md5 buckets, literal
    # rate CASE, zero shuffle; the oracle recomputes the language
    # argmax AND the bucket arithmetic
    from sparkpdf.operators.text import lang_id, stratified_sample

    return stratified_sample(
        lang_id(_t(spark, sf_dir, "documents")),
        "pred_lang",
        {"en": 250, "de": 500, "fr": 750},
        default_permille=125,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the round driver grades the FIRST 50 entries
    # (CORRECTNESS_rN); scripts/check_oracle.py covers all of them
    # locally. Round-8 rotation (r7 verdict item 1): the window leads
    # with the 23 round-7 queries that were never driver-graded in any
    # round (the whole web/ANN/image/AV third-sweep surface — judge-
    # verified green in r7, now driver-certified), then round-8 new
    # operators, then fills to 50 with the longest-since-driver-graded
    # set (last graded r6: the flagships and the r6-certified block).
    # The freshly-r7-graded block demotes to the tail — unchanged
    # code, still check_oracle-verified at both scales every round.
    return {
        # --- never driver-graded before r8 (judge-only in r7): 23 ---
        "html_meta": q_html_meta,
        "html_links": q_html_links,
        "html_headings": q_html_headings,
        "html_tables": q_html_tables,
        "html_sections": q_html_sections,
        "link_host_degree": q_link_host_degree,
        "warc_pages": q_warc_pages,
        "gopher_quality": q_gopher_quality,
        "url_canonical": q_url_canonical,
        "robots_rules": q_robots_rules,
        "sitemap_entries": q_sitemap_entries,
        "c4_clean": q_c4_clean,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "pq_recall": q_pq_recall,
        "webp_dims": q_webp_dims,
        "bmp_pixel_stats": q_bmp_pixel_stats,
        "pnm_pixel_stats": q_pnm_pixel_stats,
        "tga_ico_pixel_stats": q_tga_ico_pixel_stats,
        "mp4_audio_stats": q_mp4_audio_stats,
        "video_scene_cuts": q_video_scene_cuts,
        "audio_segment_stats": q_audio_segment_stats,
        "audio_silence_spans": q_audio_silence_spans,
        # --- round-8 new operators ---
        "jp2_dims": q_jp2_dims,
        "ivfpq_residual_topk": q_ivfpq_residual_topk,
        "ivfpq_recall_clustered": q_ivfpq_recall_clustered,
        "interleaved_extract": q_interleaved_extract,
        "pdf_embedded_jp2": q_pdf_embedded_jp2,
        "warc_mixed_extract": q_warc_mixed_extract,
        # --- longest-since-driver-graded fill (last graded r6) ---
        "extract_spans": q_extract_spans,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "ann_cosine_topk": q_ann_cosine_topk,
        "wav_pcm_stats": q_wav_pcm_stats,
        "bigram_surprisal": q_bigram_surprisal,
        "token_rarity": q_token_rarity,
        "tiff_pixel_stats": q_tiff_pixel_stats,
        "stratified_sample": q_stratified_sample,
        "obj_join": q_obj_join,
        "font_join": q_font_join,
        "events_window": q_events_window,
        "dedup_minhash": q_dedup_minhash,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "docinfo_project": q_docinfo_project,
        "remove_text": q_remove_text,
        "remove_images": q_remove_images,
        "merge_docs": q_merge_docs,
        "split_docs": q_split_docs,
        "page_count": q_page_count,
        "media_catalog": q_media_catalog,
        # --- demoted tail: the r7-graded window (freshest driver
        # certification, CORRECTNESS_r07 50/50 green) + remaining
        # r6-certified queries; all still check_oracle-verified at
        # both scales every round ---
        "adpcm_pcm_stats": q_adpcm_pcm_stats,
        "aiff_au_pcm_stats": q_aiff_au_pcm_stats,
        "video_frame_stats": q_video_frame_stats,
        "attachment_audio_stats": q_attachment_audio_stats,
        "ogg_flac_stats": q_ogg_flac_stats,
        "flac_pcm_stats": q_flac_pcm_stats,
        "line_dedup": q_line_dedup,
        "write_roundtrip": q_write_roundtrip,
        "pdf_embedded_media": q_pdf_embedded_media,
        "sessionize": q_sessionize,
        "dup_substring_ranges": q_dup_substring_ranges,
        "substring_scrub": q_substring_scrub,
        "ngram_jaccard": q_ngram_jaccard,
        "dup_clusters": q_dup_clusters,
        "dup_clusters_verified": q_dup_clusters_verified,
        "xmp_project": q_xmp_project,
        "jpeg12_pixel_stats": q_jpeg12_pixel_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "simhash_pairs": q_simhash_pairs,
        "split_docs_multi": q_split_docs_multi,
        "page_range_extract": q_page_range_extract,
        "insert_page": q_insert_page,
        "form_text_filter": q_form_text_filter,
        "dest_semijoin": q_dest_semijoin,
        "resource_merge": q_resource_merge,
        "procset_union": q_procset_union,
        "merge_union": q_merge_union,
        "stream_events_window": q_stream_events_window,
        "png_pixel_stats": q_png_pixel_stats,
        "repetition_ratio": q_repetition_ratio,
        "duplicate_ngrams": q_duplicate_ngrams,
        "ccitt_ink_ratio": q_ccitt_ink_ratio,
        "viewer_prefs": q_viewer_prefs,
        "remove_links": q_remove_links,
        "write_encrypted": q_write_encrypted,
        "attachments": q_attachments,
        "write_aes256": q_write_aes256,
        "overlay_rename": q_overlay_rename,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        "ann_ivf_nprobe2": q_ann_ivf_nprobe2,
        "chunk_documents": q_chunk_documents,
        "session_window_native": q_session_window_native,
        "pii_scrub": q_pii_scrub,
        "av_media_features": q_av_media_features,
        "hash_split": q_hash_split,
        "gif_anim_stats": q_gif_anim_stats,
        "jpeg_lossless_stats": q_jpeg_lossless_stats,
        "benchmark_contamination": q_benchmark_contamination,
        "embedding_near_dups": q_embedding_near_dups,
        "jpeg_pixel_stats": q_jpeg_pixel_stats,
        "pageno_join": q_pageno_join,
        "text_agg": q_text_agg,
        "page_range_filter": q_page_range_filter,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_recall": q_ann_recall,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "media_dims": q_media_dims,
        "multimodal_features": q_multimodal_features,
        "extract_full_text": q_extract_full_text,
        "gif_pixel_stats": q_gif_pixel_stats,
        "write_enriched": q_write_enriched,
        "write_rc4_40": q_write_rc4_40,
        "write_viewer_prefs": q_write_viewer_prefs,
        "write_form_fill": q_write_form_fill,
        "write_navigation": q_write_navigation,
        "html_main": q_html_main,
        "extract_stats": q_extract_stats,
        "overlay_pages": q_overlay_pages,
        "link_annotations": q_link_annotations,
        "outlines": q_outlines,
        "named_dests": q_named_dests,
        "form_fields": q_form_fields,
    }


# --- oracle SQL --------------------------------------------------------------

_SANITIZED = "regexp_replace(text, '[^ -~]', '?', 'g')"
_TOKENS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')"
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}
    sql["extract_spans"] = f"""
        SELECT doc_id,
               CAST(1 AS INTEGER) AS n_text,
               CAST(1 AS INTEGER) AS n_media,
               {_SANITIZED} || chr(10) AS full_text
        FROM documents
    """
    sql["extract_full_text"] = f"""
        SELECT doc_id, {_SANITIZED} || chr(10) AS full_text FROM documents
    """
    sql["write_roundtrip"] = sql["extract_full_text"]
    sql["interleaved_extract"] = f"""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                    AS INTEGER) AS n_text,
               CAST(1 AS INTEGER) AS n_media,
               CASE WHEN doc_id % 2 = 0
                    THEN {_SANITIZED} || chr(10)
                    ELSE trim(regexp_replace({_SANITIZED},
                              '\\s+', ' ', 'g'))
                         || chr(10) || 'closing paragraph '
                         || CAST(doc_id AS VARCHAR) || chr(10) END
                   AS full_text,
               CASE WHEN doc_id % 2 = 0 THEN 'img00'
                    ELSE 'img-' || CAST(doc_id AS VARCHAR) END
                   AS media_refs
        FROM documents
    """
    sql["warc_mixed_extract"] = f"""
        SELECT CAST(doc_id AS VARCHAR) || '#1' AS doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                    AS INTEGER) AS n_text,
               CAST(1 AS INTEGER) AS n_media,
               CASE WHEN doc_id % 2 = 0
                    THEN {_SANITIZED} || chr(10)
                    ELSE trim(regexp_replace({_SANITIZED},
                              '\\s+', ' ', 'g'))
                         || chr(10) || 'closing paragraph '
                         || CAST(doc_id AS VARCHAR) || chr(10) END
                   AS full_text,
               CASE WHEN doc_id % 2 = 0 THEN 'img00'
                    ELSE 'img-' || CAST(doc_id AS VARCHAR) END
                   AS media_refs
        FROM documents
    """
    sql["extract_stats"] = f"""
        SELECT doc_id, CAST(1 AS INTEGER) AS n_pages,
               CAST(1 AS INTEGER) AS n_text, CAST(1 AS INTEGER) AS n_media,
               CAST(length({_SANITIZED}) + 1 AS BIGINT) AS n_chars
        FROM documents
    """
    sql["docinfo_project"] = """
        SELECT doc_id,
               'doc-' || CAST(doc_id AS VARCHAR) AS title,
               'sparkpdf' AS producer,
               CAST(1 AS INTEGER) AS info_n_pages
        FROM documents
    """
    sql["remove_text"] = """
        SELECT doc_id, CAST(0 AS INTEGER) AS n_text,
               CAST(1 AS INTEGER) AS n_media, CAST(1 AS INTEGER) AS n_spans
        FROM documents
    """
    sql["remove_images"] = """
        SELECT doc_id, CAST(1 AS INTEGER) AS n_text,
               CAST(0 AS INTEGER) AS n_media, CAST(1 AS INTEGER) AS n_spans
        FROM documents
    """
    sql["merge_docs"] = """
        SELECT CAST(doc_id AS VARCHAR) || '+' AS doc_id,
               CAST(4 AS INTEGER) AS n_spans
        FROM documents
    """
    sql["split_docs"] = """
        SELECT CAST(doc_id AS VARCHAR) || '#0' AS doc_id,
               CAST(2 AS INTEGER) AS n_spans
        FROM documents
    """
    sql["page_count"] = """
        SELECT doc_id, CAST(1 AS INTEGER) AS page_count FROM documents
    """
    sql["media_catalog"] = """
        SELECT doc_id, 'img00' AS media_ref, CAST(1 AS BIGINT) AS n_uses,
               CAST(1 AS INTEGER) AS first_offset
        FROM documents
    """
    chunked = f"""
        WITH s AS (
            SELECT doc_id, {_SANITIZED} AS t FROM documents
        ), kk AS (
            SELECT doc_id, t,
                   greatest(1, (length(t) + 2) // 3) AS k
            FROM s
        ), pg AS (
            SELECT doc_id, 0 AS page_no, substr(t, 1, k) AS chunk FROM kk
            UNION ALL
            SELECT doc_id, 1, substr(t, k + 1, k) FROM kk
            UNION ALL
            SELECT doc_id, 2, substr(t, 2 * k + 1, k) FROM kk
        )
    """
    sql["split_docs_multi"] = chunked + """
        SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(page_no AS VARCHAR)
                   AS doc_id,
               chunk || chr(10) AS page_text
        FROM pg
    """
    sql["page_range_extract"] = chunked + """
        SELECT doc_id, CAST(page_no AS INTEGER) AS page_no,
               chunk || chr(10) AS page_text
        FROM pg WHERE page_no IN (0, 2)
    """
    sql["insert_page"] = chunked + """
        SELECT doc_id,
               CAST(CASE WHEN page_no = 0 THEN 0 ELSE page_no + 1 END
                    AS INTEGER) AS page_no,
               chunk || chr(10) AS page_text
        FROM pg
        UNION ALL
        SELECT doc_id, CAST(1 AS INTEGER), chunk || chr(10)
        FROM pg WHERE page_no = 0
    """
    sql["form_fields"] = """
        SELECT doc_id,
               'fld-doc-' || CAST(doc_id AS VARCHAR) AS name,
               '/Tx' AS ft,
               'v-doc-' || CAST(doc_id AS VARCHAR) AS value,
               CAST(0 AS INTEGER) AS flags
        FROM documents
    """
    sql["named_dests"] = """
        SELECT doc_id, 'top' AS name, CAST(0 AS INTEGER) AS page_no,
               '/Fit' AS fit
        FROM documents
    """
    sql["outlines"] = """
        SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title,
               CAST(0 AS INTEGER) AS level, CAST(0 AS INTEGER) AS page_no
        FROM documents
    """
    sql["link_annotations"] = """
        SELECT doc_id, CAST(0 AS INTEGER) AS page_no,
               'https://example.org/doc-' || CAST(doc_id AS VARCHAR) AS uri,
               CAST(-1 AS INTEGER) AS dest_page
        FROM documents
    """
    sql["overlay_pages"] = """
        SELECT doc_id, CAST(0 AS INTEGER) AS page_no,
               CAST(4 AS INTEGER) AS n_spans
        FROM documents
    """
    sql["form_text_filter"] = """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_returnflag = 'R'
    """
    sql["obj_join"] = """
        SELECT c_nationkey, COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """
    sql["font_join"] = """
        SELECT p_brand, COUNT(*) AS n_items,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """
    sql["pageno_join"] = """
        SELECT r_name, COUNT(*) AS n_suppliers
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """
    sql["dest_semijoin"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """
    sql["resource_merge"] = """
        WITH big AS (
            SELECT p_partkey AS k, p_size AS size_a FROM part WHERE p_size > 40
        ), pricey AS (
            SELECT p_partkey AS k, p_size AS size_b FROM part
            WHERE p_retailprice > 1500
        )
        SELECT COALESCE(big.k, pricey.k) AS k,
               COALESCE(size_a, -1) AS size_a,
               COALESCE(size_b, -1) AS size_b
        FROM big FULL OUTER JOIN pricey ON big.k = pricey.k
    """
    sql["text_agg"] = """
        SELECT o_custkey,
               string_agg(CAST(o_orderkey AS VARCHAR), ','
                          ORDER BY o_orderkey) AS order_keys
        FROM orders WHERE o_custkey < 50 GROUP BY o_custkey
    """
    sql["procset_union"] = """
        SELECT c_nationkey,
               array_to_string(list_sort(list_distinct(list(c_mktsegment))),
                               ',') AS segments
        FROM customer GROUP BY c_nationkey
    """
    sql["page_range_filter"] = """
        SELECT l_linenumber, COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_linenumber >= 2 AND l_linenumber < 7
          AND (l_linenumber - 2) % 2 = 0
        GROUP BY l_linenumber
    """
    sql["merge_union"] = """
        SELECT bucket, COUNT(*) AS n_orders FROM (
            SELECT o_orderkey, 'hi' AS bucket FROM orders
            WHERE o_totalprice > 300000
            UNION ALL
            SELECT o_orderkey, 'lo' AS bucket FROM orders
            WHERE o_totalprice < 10000
        ) GROUP BY bucket
    """
    sql["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """
    sql["shipping_priority"] = """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """
    sql["local_supplier_volume"] = """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """
    sql["events_window"] = """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """
    # the streaming drain must equal the batch rollup exactly
    sql["stream_events_window"] = sql["events_window"]
    sql["dedup_exact"] = """
        SELECT md5(text) AS digest, MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1
    """
    sql["dedup_minhash"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok
            FROM documents
        )
        SELECT doc_id,
               MIN(substr(md5(tok || ':0'), 1, 8)) AS sig0,
               MIN(substr(md5(tok || ':1'), 1, 8)) AS sig1,
               MIN(substr(md5(tok || ':2'), 1, 8)) AS sig2,
               MIN(substr(md5(tok || ':3'), 1, 8)) AS sig3
        FROM toks GROUP BY doc_id
    """
    sql["dedup_minhash_lsh"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok
            FROM documents
        ), sig AS (
            SELECT doc_id,
                   MIN(substr(md5(tok || ':0'), 1, 8)) AS sig0,
                   MIN(substr(md5(tok || ':1'), 1, 8)) AS sig1,
                   MIN(substr(md5(tok || ':2'), 1, 8)) AS sig2,
                   MIN(substr(md5(tok || ':3'), 1, 8)) AS sig3
            FROM toks GROUP BY doc_id
        ), banded AS (
            SELECT doc_id, md5(sig0 || '|' || sig1) AS bucket FROM sig
            UNION ALL
            SELECT doc_id, md5(sig2 || '|' || sig3) AS bucket FROM sig
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    """
    # simhash: bit b of md5(tok) via nibble arithmetic, votes summed
    nib = (
        "(strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1)"
    )
    bit_terms = []
    for b in range(16):
        nibexpr = nib.format(pos=b // 4 + 1)
        bit = f"(({nibexpr} // {1 << (3 - b % 4)}) % 2)"
        bit_terms.append(
            f"CASE WHEN SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) > 0"
            f" THEN {1 << b} ELSE 0 END"
        )
    sql["dedup_simhash"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
        )
        SELECT doc_id, CAST({' + '.join(bit_terms)} AS BIGINT) AS simhash
        FROM toks GROUP BY doc_id
    """
    sql["html_main"] = f"""
        SELECT doc_id,
               'doc-' || CAST(doc_id AS VARCHAR) AS title,
               trim(regexp_replace({_SANITIZED}, '\\s+', ' ', 'g'))
                   AS main_text
        FROM documents
    """
    sql["bmp_pixel_stats"] = """
        WITH rws AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height,
                   unnest(range(0, 8 + (doc_id % 2) * 8)) AS y,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM(CASE WHEN d % 4 = 2
                          THEN (7 * (40 + ((d + y * 11) % 50) * 4)
                                + 13) % 256
                          ELSE 40 + ((d + y * 11) % 50) * 4 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM rws GROUP BY doc_id, width, height
    """
    sql["webp_dims"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               'webp' AS format,
               CAST(16 + doc_id % 32 AS INTEGER) AS width,
               CAST(8 + doc_id % 16 AS INTEGER) AS height
        FROM documents
    """
    sql["jp2_dims"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               'jp2' AS format,
               CAST(20 + doc_id % 40 AS INTEGER) AS width,
               CAST(10 + doc_id % 20 AS INTEGER) AS height,
               CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 10
                    WHEN 2 THEN 12 ELSE 16 END AS INTEGER) AS bits
        FROM documents
    """
    sql["pdf_embedded_jp2"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               'p0/img00' AS media_ref,
               'jp2' AS fmt,
               CAST(20 + doc_id % 40 AS INTEGER) AS width,
               CAST(10 + doc_id % 20 AS INTEGER) AS height,
               CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 10
                    WHEN 2 THEN 12 ELSE 16 END AS INTEGER) AS bits
        FROM documents
    """
    sql["tga_ico_pixel_stats"] = """
        WITH rws AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height,
                   unnest(range(0, 8 + (doc_id % 2) * 8)) AS y,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM(CASE WHEN d % 5 = 2
                          THEN (7 * (40 + ((d + y * 11) % 50) * 4)
                                + 13) % 256
                          ELSE 40 + ((d + y * 11) % 50) * 4 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM rws GROUP BY doc_id, width, height
    """
    sql["pnm_pixel_stats"] = """
        WITH rws AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height,
                   unnest(range(0, 8 + (doc_id % 2) * 8)) AS y,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM((40 + ((d + y * 11) % 50) * 4)
                         * (CASE WHEN d % 3 = 2 THEN 257 ELSE 1 END))
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM rws GROUP BY doc_id, width, height
    """
    sql["html_meta"] = """
        SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                    WHEN 2 THEN 'fr' WHEN 3 THEN 'es'
                    ELSE 'it' END AS lang,
               'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
                   AS canonical,
               'Summary of document ' || CAST(doc_id AS VARCHAR)
                   AS description,
               CASE WHEN doc_id % 7 = 0 THEN 'noindex,nofollow'
                    ELSE 'index,follow' END AS robots,
               'OG Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
               'utf-8' AS charset
        FROM documents
    """
    sql["html_links"] = """
        SELECT d.doc_id,
               CAST(t.i AS INTEGER) AS link_idx,
               CASE
                 WHEN t.i = 0 THEN '/'
                 WHEN t.i = 1 THEN '/about'
                 WHEN t.i = 2 THEN '/contact'
                 WHEN t.i < 3 + d.doc_id % 4 THEN
                     'https://site'
                     || CAST((d.doc_id + t.i - 3) % 5 AS VARCHAR)
                     || '.example.com/ref/'
                     || CAST(d.doc_id AS VARCHAR) || '/'
                     || CAST(t.i - 3 AS VARCHAR)
                 WHEN t.i = 3 + d.doc_id % 4 THEN '/a'
                 ELSE '/b'
               END AS href,
               CASE
                 WHEN t.i = 0 THEN 'Home'
                 WHEN t.i = 1 THEN 'About'
                 WHEN t.i = 2 THEN 'Contact'
                 WHEN t.i < 3 + d.doc_id % 4 THEN
                     'ref ' || CAST(d.doc_id AS VARCHAR) || '-'
                     || CAST(t.i - 3 AS VARCHAR)
                 WHEN t.i = 3 + d.doc_id % 4 THEN 'Read more stuff here'
                 ELSE 'Another related article link'
               END AS anchor,
               CAST(CASE WHEN t.i >= 3 AND t.i < 3 + d.doc_id % 4
                              AND (t.i - 3) % 2 = 1
                         THEN 1 ELSE 0 END AS INTEGER) AS nofollow,
               CAST(CASE WHEN t.i < 3 THEN 1 ELSE 0 END AS INTEGER)
                   AS boiler
        FROM documents d CROSS JOIN generate_series(0, 8) t(i)
        WHERE t.i < 5 + d.doc_id % 4
    """
    sql["html_headings"] = """
        SELECT d.doc_id,
               CAST(t.i AS INTEGER) AS h_idx,
               CAST(CASE WHEN t.i <= 1 THEN 1 ELSE 2 END AS INTEGER)
                   AS level,
               CASE
                 WHEN t.i = 0 THEN 'Site Name'
                 WHEN t.i = 1 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                 ELSE 'Section ' || CAST(t.i - 2 AS VARCHAR)
                      || ' of doc ' || CAST(d.doc_id AS VARCHAR)
               END AS text,
               CAST(CASE WHEN t.i = 0 THEN 1 ELSE 0 END AS INTEGER)
                   AS boiler
        FROM documents d CROSS JOIN generate_series(0, 5) t(i)
        WHERE t.i < 3 + d.doc_id % 3
    """
    sql["c4_clean"] = """
        WITH t AS (
            SELECT doc_id,
                   str_split(text, chr(10)) AS lines,
                   contains(lower(text), 'lorem ipsum') AS lorem,
                   contains(text, '{') AS brace
            FROM documents
        ), k AS (
            SELECT doc_id, lines, lorem, brace,
                   list_filter(lines, l ->
                       regexp_matches(trim(l), '[.!?"'']$')
                       AND len(list_filter(
                           string_split_regex(l, ' +'),
                           w -> w <> '')) >= 5
                       AND NOT contains(lower(l), 'javascript')
                   ) AS kept
            FROM t
        ), m AS (
            SELECT doc_id, lines, kept, lorem, brace,
                   list_aggregate(list_transform(kept, x -> x),
                                  'string_agg', chr(10)) AS joined
            FROM k
        )
        SELECT doc_id,
               CAST(len(lines) AS INTEGER) AS n_lines,
               CAST(len(kept) AS INTEGER) AS n_kept,
               CAST(len(regexp_extract_all(
                        COALESCE(joined, ''), '[.!?]'))
                    AS INTEGER) AS n_sentences,
               CAST(lorem AS INTEGER) AS has_lorem,
               CAST(brace AS INTEGER) AS has_brace,
               CAST(CASE WHEN NOT lorem AND NOT brace
                          AND len(regexp_extract_all(
                              COALESCE(joined, ''), '[.!?]')) >= 5
                     THEN 1 ELSE 0 END AS INTEGER) AS c4_keep,
               COALESCE(joined, '') AS clean_text
        FROM m
    """
    sql["sitemap_entries"] = """
        SELECT d.doc_id,
               CAST(t.i AS INTEGER) AS entry_idx,
               CASE WHEN d.doc_id % 5 = 0 THEN 'sitemapindex'
                    ELSE 'urlset' END AS kind,
               CASE WHEN d.doc_id % 5 = 0
                    THEN 'https://example.com/sm'
                         || CAST(d.doc_id AS VARCHAR) || '-'
                         || CAST(t.i AS VARCHAR) || '.xml'
                    ELSE 'https://example.com/doc/'
                         || CAST(d.doc_id AS VARCHAR) || '/'
                         || CAST(t.i AS VARCHAR)
               END AS loc,
               CASE WHEN d.doc_id % 5 = 0 THEN '2024-02-'
                    ELSE '2024-01-' END
                   || lpad(CAST(1 + (d.doc_id + t.i) % 28 AS VARCHAR),
                           2, '0') AS lastmod,
               CASE WHEN d.doc_id % 5 = 0 THEN NULL
                    ELSE printf('%.1f',
                         ((d.doc_id + t.i) % 10) / 10.0)
               END AS priority
        FROM documents d CROSS JOIN generate_series(0, 3) t(i)
        WHERE t.i < CASE WHEN d.doc_id % 5 = 0
                         THEN 1 + d.doc_id % 2
                         ELSE 1 + d.doc_id % 4 END
    """
    sql["robots_rules"] = """
        SELECT doc_id,
               CAST(doc_id % 5 AS DOUBLE) AS crawl_delay,
               CAST(1 + doc_id % 2 AS INTEGER) AS n_sitemaps,
               CAST(CASE WHEN doc_id % 4 = 1 THEN 0 ELSE 1 END
                    AS INTEGER) AS allowed_0,
               CAST(1 AS INTEGER) AS allowed_1,
               CAST(0 AS INTEGER) AS other_agent_tmp
        FROM documents
    """
    sql["url_canonical"] = """
        SELECT doc_id,
               CASE doc_id % 6
                 WHEN 0 THEN 'HTTP://WWW.Example.COM/path/'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN 'https://example.com:443/a/b/../c/'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN 'http://example.com:80/./x/'
                             || CAST(doc_id AS VARCHAR) || '#sec'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 3 THEN 'https://Example.com/x//y/'
                             || CAST(doc_id AS VARCHAR) || '?q='
                             || CAST(doc_id AS VARCHAR)
                 WHEN 4 THEN 'http://EXAMPLE.com'
                 ELSE 'https://example.com:8080/p/../'
                      || CAST(doc_id AS VARCHAR)
               END AS url,
               CASE doc_id % 6
                 WHEN 0 THEN 'http://www.example.com/path/'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN 'https://example.com/a/c/'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN 'http://example.com/x/'
                             || CAST(doc_id AS VARCHAR)
                 WHEN 3 THEN 'https://example.com/x/y/'
                             || CAST(doc_id AS VARCHAR) || '?q='
                             || CAST(doc_id AS VARCHAR)
                 WHEN 4 THEN 'http://example.com/'
                 ELSE 'https://example.com:8080/'
                      || CAST(doc_id AS VARCHAR)
               END AS canonical
        FROM documents
    """
    sql["gopher_quality"] = f"""
        WITH t AS (
            SELECT doc_id,
                   {_TOKENS} AS toks,
                   str_split(text, chr(10)) AS lines,
                   len(regexp_extract_all(text, '#|\\.\\.\\.'))
                       AS n_sym
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   CASE WHEN len(toks) > 0 THEN
                        CAST(list_sum(list_transform(toks,
                             x -> length(x))) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS mean_word_len,
                   CASE WHEN len(toks) > 0 THEN
                        CAST(n_sym AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS symbol_ratio,
                   CASE WHEN len(lines) > 0 THEN
                        CAST(len(list_filter(lines,
                             l -> l LIKE '- %' OR l LIKE '* %'))
                             AS DOUBLE) / len(lines)
                        ELSE 0.0 END AS bullet_ratio,
                   CASE WHEN len(lines) > 0 THEN
                        CAST(len(list_filter(lines,
                             l -> l LIKE '%...')) AS DOUBLE)
                             / len(lines)
                        ELSE 0.0 END AS ellipsis_ratio,
                   CASE WHEN len(toks) > 0 THEN
                        CAST(len(list_filter(toks,
                             x -> regexp_matches(x, '[a-z]')))
                             AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS alpha_ratio,
                   len(list_intersect(list_distinct(toks),
                       ['the','and','of','to','a','in','is','that',
                        'for','with'])) AS n_stopwords
            FROM t
        )
        SELECT doc_id,
               CAST(n_words AS INTEGER) AS n_words,
               ROUND(mean_word_len, 6) AS mean_word_len,
               ROUND(symbol_ratio, 6) AS symbol_ratio,
               ROUND(bullet_ratio, 6) AS bullet_ratio,
               ROUND(ellipsis_ratio, 6) AS ellipsis_ratio,
               ROUND(alpha_ratio, 6) AS alpha_ratio,
               CAST(n_stopwords AS INTEGER) AS n_stopwords,
               CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                          AND mean_word_len >= 3 AND mean_word_len <= 10
                          AND symbol_ratio < 0.1
                          AND bullet_ratio < 0.9
                          AND ellipsis_ratio < 0.3
                          AND alpha_ratio >= 0.8
                          AND n_stopwords >= 2
                     THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass
        FROM m
    """
    sql["warc_pages"] = """
        SELECT doc_id,
               'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
                   AS url,
               CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END
                    AS INTEGER) AS http_status,
               'text/html; charset=utf-8' AS content_type,
               'OG Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
               CASE doc_id % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                    WHEN 2 THEN 'fr' WHEN 3 THEN 'es'
                    ELSE 'it' END AS lang
        FROM documents
    """
    sql["html_sections"] = f"""
        SELECT d.doc_id,
               CAST(t.i AS INTEGER) AS sec_idx,
               CASE WHEN t.i = 0
                    THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                    ELSE 'Section ' || CAST(t.i - 1 AS VARCHAR)
                         || ' of doc ' || CAST(d.doc_id AS VARCHAR)
               END AS heading,
               CAST(CASE WHEN t.i = 0 THEN 1 ELSE 2 END AS INTEGER)
                   AS level,
               CASE WHEN t.i = 0
                    THEN trim(regexp_replace({_SANITIZED},
                              '\\s+', ' ', 'g'))
                    ELSE 'Body of section ' || CAST(t.i - 1 AS VARCHAR)
                         || ' in doc ' || CAST(d.doc_id AS VARCHAR)
                         || '.'
               END AS sec_text
        FROM documents d CROSS JOIN generate_series(0, 3) t(i)
        WHERE t.i < 2 + d.doc_id % 3
    """
    sql["link_host_degree"] = """
        WITH body AS (
            SELECT d.doc_id,
                   'site' || CAST((d.doc_id + t.i) % 5 AS VARCHAR)
                       || '.example.com' AS host,
                   CAST(t.i % 2 AS INTEGER) AS nofollow
            FROM documents d CROSS JOIN generate_series(0, 2) t(i)
            WHERE t.i < d.doc_id % 4
        )
        SELECT host,
               COUNT(*) AS n_links,
               CAST(SUM(nofollow) AS BIGINT) AS n_nofollow,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM body GROUP BY host
    """
    sql["html_tables"] = """
        SELECT d.doc_id,
               CAST(0 AS INTEGER) AS table_idx,
               CAST(2 + d.doc_id % 5 AS INTEGER) AS n_rows,
               CAST(1 + d.doc_id % 3 AS INTEGER) AS n_cols,
               string_agg(
                   'c' || CAST(t.i // (1 + d.doc_id % 3) AS VARCHAR)
                   || '.' || CAST(t.i % (1 + d.doc_id % 3) AS VARCHAR),
                   ' ' ORDER BY t.i) AS cells
        FROM documents d CROSS JOIN generate_series(0, 17) t(i)
        WHERE d.doc_id % 3 = 0
          AND t.i < (2 + d.doc_id % 5) * (1 + d.doc_id % 3)
        GROUP BY d.doc_id
    """
    sql["chunk_documents"] = """
        SELECT doc_id,
               unnest(range(0, n_chunks)) AS chunk_idx,
               n_chunks,
               substring(text, unnest(range(0, n_chunks)) * 400 + 1, 500)
                   AS chunk_text
        FROM (
            SELECT doc_id, text,
                   CAST(GREATEST(1, CEIL(length(text) / 400.0)) AS INTEGER)
                       AS n_chunks
            FROM documents
        )
    """
    _PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _PII_NUM = "[0-9]{9,}"
    _PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    _PII_PHONE = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
    sql["pii_scrub"] = f"""
        WITH planted AS (
            SELECT doc_id,
                   text || ' reach user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 55512345'
                        || CAST(doc_id AS VARCHAR)
                        || ' ssn 123-45-6789 tel (555) 123-4567' AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
                    AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_SSN}'))
                    AS INTEGER) AS n_ssns,
               CAST(len(regexp_extract_all(text, '{_PII_PHONE}'))
                    AS INTEGER) AS n_phones,
               CAST(len(regexp_extract_all(text, '{_PII_NUM}'))
                    AS INTEGER) AS n_longnums,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                           '{_PII_SSN}', '<SSN>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_NUM}', '<NUM>', 'g') AS clean_text
        FROM planted
    """
    # dup clusters: connected components over the LSH pairs. Round-7
    # oracle shape (r6 verdict item 5): the old doc-level recursive
    # reachability closure materializes O(docs x component) rows —
    # >1 h on sf0.1's degenerate near-clique (7.6M pairs over 5k
    # docs). Exact fix, no recursion blowup: (1) two UNROLLED
    # min-label rounds over the doc<->bucket BIPARTITE graph (plain
    # GROUP BYs — cliques collapse immediately; labels only move
    # within components, so any round count is correct), then (2) the
    # recursive closure runs on the CONTRACTED label graph (distinct
    # co-bucketed label pairs — tiny after contraction). Connectivity
    # quotient: every doc-bucket-doc path maps to a label-label edge,
    # so components of the contracted graph equal components of the
    # pair graph, and each component's min doc_id survives as a label
    # (the min doc's own label never changes).
    sql["dup_clusters"] = f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok
            FROM documents
        ), sig AS (
            SELECT doc_id,
                   MIN(substr(md5(tok || ':0'), 1, 8)) AS sig0,
                   MIN(substr(md5(tok || ':1'), 1, 8)) AS sig1,
                   MIN(substr(md5(tok || ':2'), 1, 8)) AS sig2,
                   MIN(substr(md5(tok || ':3'), 1, 8)) AS sig3
            FROM toks GROUP BY doc_id
        ), bk AS (
            SELECT doc_id, md5(sig0 || '|' || sig1) AS bucket FROM sig
            UNION ALL
            SELECT doc_id, md5(sig2 || '|' || sig3) AS bucket FROM sig
        ),
        r0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
        b1 AS (
            SELECT bucket, MIN(r.lbl) AS lbl
            FROM bk JOIN r0 r USING (doc_id) GROUP BY bucket
        ),
        r1 AS (
            SELECT r.doc_id,
                   LEAST(r.lbl, COALESCE(MIN(b1.lbl), r.lbl)) AS lbl
            FROM r0 r
            LEFT JOIN bk ON bk.doc_id = r.doc_id
            LEFT JOIN b1 ON b1.bucket = bk.bucket
            GROUP BY r.doc_id, r.lbl
        ),
        b2 AS (
            SELECT bucket, MIN(r.lbl) AS lbl
            FROM bk JOIN r1 r USING (doc_id) GROUP BY bucket
        ),
        r2 AS (
            SELECT r.doc_id,
                   LEAST(r.lbl, COALESCE(MIN(b2.lbl), r.lbl)) AS lbl
            FROM r1 r
            LEFT JOIN bk ON bk.doc_id = r.doc_id
            LEFT JOIN b2 ON b2.bucket = bk.bucket
            GROUP BY r.doc_id, r.lbl
        ),
        b3 AS (
            SELECT bucket, MIN(r.lbl) AS lbl
            FROM bk JOIN r2 r USING (doc_id) GROUP BY bucket
        ),
        ce AS (
            SELECT DISTINCT b3.lbl AS la, r2.lbl AS lb
            FROM bk JOIN r2 USING (doc_id) JOIN b3 USING (bucket)
            WHERE b3.lbl <> r2.lbl
        ),
        ce2 AS (
            SELECT la, lb FROM ce UNION SELECT lb, la FROM ce
        ),
        reach(src, dst) AS (
            SELECT lbl, lbl FROM (SELECT DISTINCT lbl FROM r2)
            UNION
            SELECT r.src, c.lb FROM reach r JOIN ce2 c ON r.dst = c.la
        ),
        fin AS (SELECT src, MIN(dst) AS root FROM reach GROUP BY src)
        SELECT r2.doc_id, fin.root AS cluster_id
        FROM r2 JOIN fin ON fin.src = r2.lbl
    """
    sql["dup_clusters_verified"] = f"""
        WITH RECURSIVE pairs0 AS ({sql["dedup_minhash_lsh"].strip()}),
        t AS (
            SELECT doc_id, list_sort(list_distinct({_TOKENS})) AS toks
            FROM documents
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM pairs0
            JOIN t ta ON ta.doc_id = pairs0.doc_a
            JOIN t tb ON tb.doc_id = pairs0.doc_b
            WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                  / len(list_distinct(ta.toks || tb.toks)) >= 0.9
        ),
        e AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        r0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
        r1 AS (
            SELECT r.doc_id,
                   LEAST(r.lbl, COALESCE(MIN(rn.lbl), r.lbl)) AS lbl
            FROM r0 r
            LEFT JOIN e ON e.a = r.doc_id
            LEFT JOIN r0 rn ON rn.doc_id = e.b
            GROUP BY r.doc_id, r.lbl
        ),
        r2 AS (
            SELECT r.doc_id,
                   LEAST(r.lbl, COALESCE(MIN(rn.lbl), r.lbl)) AS lbl
            FROM r1 r
            LEFT JOIN e ON e.a = r.doc_id
            LEFT JOIN r1 rn ON rn.doc_id = e.b
            GROUP BY r.doc_id, r.lbl
        ),
        ce AS (
            SELECT DISTINCT ra.lbl AS la, rb.lbl AS lb
            FROM e JOIN r2 ra ON ra.doc_id = e.a
                   JOIN r2 rb ON rb.doc_id = e.b
            WHERE ra.lbl <> rb.lbl
        ),
        reach(src, dst) AS (
            SELECT lbl, lbl FROM (SELECT DISTINCT lbl FROM r2)
            UNION
            SELECT r.src, c.lb FROM reach r JOIN ce c ON r.dst = c.la
        ),
        fin AS (SELECT src, MIN(dst) AS root FROM reach GROUP BY src)
        SELECT r2.doc_id, fin.root AS cluster_id
        FROM r2 JOIN fin ON fin.src = r2.lbl
    """
    # 64-bit banded simhash (4 x 16-bit bands, pigeonhole for hamming<=3)
    band_terms = []
    for j in range(4):
        terms = []
        for i in range(16):
            bb = j * 16 + i
            nibexpr = nib.format(pos=bb // 4 + 1)
            bit = f"(({nibexpr} // {1 << (3 - bb % 4)}) % 2)"
            terms.append(
                f"CASE WHEN SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) > 0"
                f" THEN {1 << i} ELSE 0 END"
            )
        band_terms.append(" + ".join(terms))
    ham64 = " + ".join(
        f"bit_count(xor(a.band{j}, b.band{j}))" for j in range(4)
    )
    sql["simhash_pairs"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
        ), sh AS (
            SELECT doc_id,
                   CAST({band_terms[0]} AS BIGINT) AS band0,
                   CAST({band_terms[1]} AS BIGINT) AS band1,
                   CAST({band_terms[2]} AS BIGINT) AS band2,
                   CAST({band_terms[3]} AS BIGINT) AS band3
            FROM toks GROUP BY doc_id
        ), stacked AS (
            SELECT doc_id, band0, band1, band2, band3,
                   0 AS band_no, band0 AS band_val FROM sh
            UNION ALL SELECT doc_id, band0, band1, band2, band3,
                   1, band1 FROM sh
            UNION ALL SELECT doc_id, band0, band1, band2, band3,
                   2, band2 FROM sh
            UNION ALL SELECT doc_id, band0, band1, band2, band3,
                   3, band3 FROM sh
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({ham64} AS INTEGER) AS hamming
        FROM stacked a JOIN stacked b
          ON a.band_no = b.band_no AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE {ham64} <= 3
    """
    sql["sessionize"] = """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   CAST(SUM(is_new) OVER w AS INTEGER) AS session_idx
            FROM flagged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, session_idx, COUNT(*) AS n_events,
               MIN(ts) AS t_start, MAX(ts) AS t_end
        FROM sess GROUP BY user_id, session_idx
    """
    # native session windows: window end = last event + gap
    sql["session_window_native"] = """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   CAST(SUM(is_new) OVER w AS INTEGER) AS session_idx
            FROM flagged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id,
               MIN(ts) AS t_start,
               MAX(ts) + INTERVAL 30 MINUTE AS t_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_idx
    """
    # ngram_jaccard: candidates are the SAME banded-LSH buckets as
    # dedup_minhash_lsh (the scale-safe block key), then exact jaccard
    sql["ngram_jaccard"] = f"""
        WITH cand AS ({sql["dedup_minhash_lsh"].strip()}),
        t AS (
            SELECT doc_id, list_sort(list_distinct({_TOKENS})) AS toks
            FROM documents
        )
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(list_cat(a.toks, b.toks))), 6)
                   AS jaccard
        FROM cand c
        JOIN t a ON a.doc_id = c.doc_a
        JOIN t b ON b.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_cat(a.toks, b.toks))) >= 0.3
    """
    sql["ann_cosine_topk"] = """
        WITH unit AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                           list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                   AS u
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.u, c.u) AS sim
            FROM unit q JOIN unit c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 8
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """
    # ann_lsh_topk: plane weights via the fixed LCG, reproduced inline
    planes = []
    for j in range(4):
        ws = ", ".join(
            str(((1103515245 * (j * 1024 + d) + 12345) % 2001 - 1000) / 1000.0)
            for d in range(64)
        )
        planes.append(f"[{ws}]")
    plane_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {p}::DOUBLE[] AS w" for j, p in enumerate(planes)
    )
    sql["ann_lsh_topk"] = f"""
        WITH unit AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                           list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                   AS u
            FROM embeddings
        ), planes AS ({plane_rows}),
        bucketed AS (
            SELECT vec_id, u,
                   CAST(SUM(CASE WHEN list_dot_product(u, w) >= 0
                            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                        AS INTEGER) AS bucket
            FROM unit CROSS JOIN planes
            GROUP BY vec_id, u
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.u, c.u) AS sim
            FROM bucketed q JOIN bucketed c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 8
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 3
    """
    sql["ann_ivf_topk"] = """
        WITH unit AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                           list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                   AS u
            FROM embeddings
        ), centroids AS (
            SELECT vec_id AS centroid_id, u AS cu FROM unit WHERE vec_id < 8
        ), assigned AS (
            SELECT vec_id, u, centroid_id FROM (
                SELECT v.vec_id, v.u, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_dot_product(v.u, c.cu) DESC,
                                    c.centroid_id ASC) AS rk
                FROM unit v CROSS JOIN centroids c
            ) WHERE rk = 1
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.u, c.u) AS sim
            FROM assigned q JOIN assigned c
              ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 4
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 3
    """
    sql["ann_ivf_nprobe2"] = """
        WITH unit AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                           list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                   AS u
            FROM embeddings
        ), centroids AS (
            SELECT vec_id AS centroid_id, u AS cu FROM unit WHERE vec_id < 8
        ), assigned AS (
            SELECT vec_id, u, centroid_id FROM (
                SELECT v.vec_id, v.u, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_dot_product(v.u, c.cu) DESC,
                                    c.centroid_id ASC) AS rk
                FROM unit v CROSS JOIN centroids c
            ) WHERE rk = 1
        ), qprobes AS (
            SELECT query_id, qu, centroid_id AS qlist FROM (
                SELECT v.vec_id AS query_id, v.u AS qu, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_dot_product(v.u, c.cu) DESC,
                                    c.centroid_id ASC) AS crk
                FROM unit v CROSS JOIN centroids c
                WHERE v.vec_id < 4
            ) WHERE crk <= 2
        ), scored AS (
            SELECT query_id, c.vec_id AS neighbor_id,
                   list_dot_product(qu, c.u) AS sim
            FROM qprobes q JOIN assigned c ON q.qlist = c.centroid_id
            WHERE q.query_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 3
    """
    # banded near-dups: 8 bands x 8 planes (global plane index
    # band*8 + j), bucket-size cap mirrored with a window count
    planes64 = []
    for j in range(64):
        ws = ", ".join(
            str(((1103515245 * (j * 1024 + d) + 12345) % 2001 - 1000) / 1000.0)
            for d in range(64)
        )
        planes64.append(f"SELECT {j} AS j, [{ws}]::DOUBLE[] AS w")
    plane_rows64 = " UNION ALL ".join(planes64)
    sql["embedding_near_dups"] = f"""
        WITH unit AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                           list_transform(embedding,
                               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                   AS u
            FROM embeddings
        ), planes AS ({plane_rows64}),
        bucketed AS (
            SELECT vec_id, u, CAST(j // 8 AS INTEGER) AS band_no,
                   CAST(SUM(CASE WHEN list_dot_product(u, w) >= 0
                            THEN CAST(pow(2, j % 8) AS BIGINT) ELSE 0 END)
                        AS INTEGER) AS bucket
            FROM unit CROSS JOIN planes
            GROUP BY vec_id, u, j // 8
        ), counted AS (
            SELECT *, COUNT(*) OVER (PARTITION BY band_no, bucket)
                       AS bucket_n
            FROM bucketed
        )
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_dot_product(a.u, b.u), 6) AS cosine
        FROM counted a JOIN counted b
          ON a.band_no = b.band_no AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        WHERE a.bucket_n <= 10000 AND b.bucket_n <= 10000
          AND ROUND(list_dot_product(a.u, b.u), 6) >= 0.44
    """
    stop_sql = {
        lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
        for lang, words in _STOPWORDS.items()
    }
    score_cols = ", ".join(
        f"len(list_intersect(toks, {stop_sql[lang]})) AS s_{lang}"
        for lang in _STOPWORDS
    )
    pred = "CASE WHEN best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in _STOPWORDS
    ) + " END"
    sql["lang_id"] = f"""
        WITH t AS (
            SELECT doc_id, list_distinct({_TOKENS}) AS toks FROM documents
        ), s AS (
            SELECT doc_id, {score_cols} FROM t
        ), g AS (
            SELECT doc_id, s_en, s_de, s_fr, s_es,
                   greatest(s_en, s_de, s_fr, s_es) AS best
            FROM s
        )
        SELECT doc_id, {pred} AS pred_lang,
               CAST(best AS INTEGER) AS stopword_hits
        FROM g
    """
    # stratified_sample (round 6): the language argmax AND the stable
    # md5 bucket + literal rate CASE recomputed in SQL
    sql["stratified_sample"] = f"""
        WITH t AS (
            SELECT doc_id, list_distinct({_TOKENS}) AS toks FROM documents
        ), s AS (
            SELECT doc_id, {score_cols} FROM t
        ), g AS (
            SELECT doc_id, s_en, s_de, s_fr, s_es,
                   greatest(s_en, s_de, s_fr, s_es) AS best
            FROM s
        ), l AS (
            SELECT doc_id, {pred} AS stratum FROM g
        ), b AS (
            SELECT doc_id, stratum,
                   CAST('0x' || substr(md5('strata:' ||
                        CAST(doc_id AS VARCHAR)), 1, 3) AS INTEGER)
                       AS bucket
            FROM l
        )
        SELECT doc_id, stratum, CAST(bucket AS INTEGER) AS bucket,
               CAST(CASE stratum WHEN 'en' THEN 250 WHEN 'de' THEN 500
                                 WHEN 'fr' THEN 750 ELSE 125
                    END AS INTEGER) AS rate_permille,
               bucket * 1000 < (CASE stratum WHEN 'en' THEN 250
                                             WHEN 'de' THEN 500
                                             WHEN 'fr' THEN 750
                                             ELSE 125 END) * 4096
                   AS kept
        FROM b
    """
    sql["quality_score"] = f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(len(regexp_extract_all(text, '[.,;:!?]'))
                        AS DOUBLE) AS n_punct,
                   CAST(len({_TOKENS}) AS DOUBLE) AS n_tokens
            FROM documents
        ), m AS (
            SELECT doc_id, n_chars,
                   CASE WHEN n_tokens > 0 THEN n_chars / n_tokens
                        ELSE 0.0 END AS mean_word,
                   CASE WHEN n_chars > 0 THEN n_punct / n_chars
                        ELSE 0.0 END AS punct_ratio,
                   least(n_chars / 500.0, 1.0) AS len_score
            FROM t
        )
        SELECT doc_id,
               ROUND(len_score, 6) AS len_score,
               ROUND(punct_ratio, 6) AS punct_ratio,
               ROUND((len_score
                      + (CASE WHEN mean_word >= 3 AND mean_word <= 12
                              THEN 1.0 ELSE 0.5 END)
                      + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.5 END)
                     ) / 3.0, 6) AS quality
        FROM m
    """
    sql["token_count"] = """
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(
                   text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                   AS INTEGER) AS bpe_tokens,
               CAST(length(text) AS INTEGER) AS chars
        FROM documents
    """
    sql["doc_fingerprint"] = """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint,
               substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                      1, 4) AS shard
        FROM documents
    """
    # multimodal_features: the fake decoder's dims derive from
    # sha256(payload) where payload = unhex(md5(text)); DuckDB can
    # reproduce the digest chain exactly
    sql["multimodal_features"] = """
        WITH m AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'img-' || CAST(doc_id AS VARCHAR) AS media_ref,
                   sha256(md5(text)) AS d
            FROM documents
        ), v AS (
            SELECT doc_id, media_ref, d,
                   (strpos('0123456789abcdef', substr(d, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(d, 2, 1)) - 1) AS b0,
                   (strpos('0123456789abcdef', substr(d, 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(d, 4, 1)) - 1) AS b1
            FROM m
        )
        SELECT doc_id, media_ref,
               CAST(NULL AS INTEGER) AS width,
               CAST(NULL AS INTEGER) AS height,
               CAST(32 AS INTEGER) AS n_bytes,
               substr(d, 1, 8) AS sha8
        FROM v
    """
    # xmp/viewer prefs: deterministic functions of length(text) baked
    # into the corpus builder (testing/pdfgen.doc_to_pdf)
    sql["xmp_project"] = """
        SELECT doc_id,
               'doc-' || CAST(doc_id AS VARCHAR) AS xmp_title,
               'sparkpdf' AS xmp_producer,
               '2020-01-' || lpad(CAST(1 + length(text) % 28 AS VARCHAR),
                                  2, '0') || 'T00:00:00' AS create_date,
               '2020-01-' || lpad(CAST(1 + length(text) % 28 AS VARCHAR),
                                  2, '0') || 'T06:30:00' AS modify_date,
               'author-' || CAST(length(text) % 10 AS VARCHAR)
                   || ';editor-' || CAST(length(text) % 6 AS VARCHAR)
                   AS creators,
               'topic-' || CAST(length(text) % 7 AS VARCHAR)
                   || ';topic-' || CAST(7 + length(text) % 11 AS VARCHAR)
                   AS subjects,
               'kw' || CAST(length(text) % 5 AS VARCHAR)
                   || ', kw' || CAST(5 + length(text) % 9 AS VARCHAR)
                   AS keywords,
               '1.' || CAST(3 + length(text) % 5 AS VARCHAR) AS pdfversion,
               'tool-' || CAST(length(text) % 4 AS VARCHAR) AS creator_tool,
               '2020-02-' || lpad(CAST(1 + length(text) % 28 AS VARCHAR),
                                  2, '0') || 'T12:00:00' AS metadata_date,
               'uuid:doc-' || CAST(length(text) % 100 AS VARCHAR)
                   AS document_id,
               'custom-' || CAST(length(text) % 13 AS VARCHAR) AS custom_car
        FROM documents
    """
    sql["viewer_prefs"] = """
        SELECT doc_id,
               CASE WHEN length(text) % 2 = 0 THEN '/SinglePage'
                    ELSE '/TwoColumnLeft' END AS page_layout,
               CASE WHEN length(text) % 3 = 0 THEN '/UseNone'
                    ELSE '/UseOutlines' END AS page_mode
        FROM documents
    """
    sql["remove_links"] = f"""
        SELECT doc_id,
               CAST(1 AS BIGINT) AS links_before,
               CAST(0 AS BIGINT) AS links_after,
               {_SANITIZED} || chr(10) AS full_text
        FROM documents
    """
    # ivf_kmeans_topk: 2 Lloyd iterations replayed in SQL; every float
    # rounded to 6dp on both engines so summation order can't diverge
    _UNIT = """
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                       list_transform(embedding,
                           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
               AS u
        FROM embeddings
    """
    def _km_family(unit_sql: str) -> "tuple[list, str]":
        """The 2-iteration Lloyd CTE family over an arbitrary unit
        CTE body (round 8 factors it out so the clustered-corpus
        residual IVFPQ can rebuild it verbatim). Returns (ctes,
        final-centroid CTE name); 'af' is the final assignment."""
        ctes = [f"unit AS ({unit_sql})",
                "c0 AS (SELECT vec_id AS centroid_id, u AS cu FROM unit"
                " WHERE vec_id < 8)"]
        prev = "c0"
        for it in range(2):
            ctes.append(f"""
            a{it} AS (
                SELECT vec_id, u, centroid_id FROM (
                    SELECT unit.vec_id, unit.u, {prev}.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY unit.vec_id
                               ORDER BY ROUND(list_dot_product(unit.u,
                                              {prev}.cu), 6) DESC,
                                        {prev}.centroid_id ASC) AS rk
                    FROM unit CROSS JOIN {prev}
                ) WHERE rk = 1
            )""")
            ctes.append(f"""
            m{it} AS (
                SELECT centroid_id, dim, ROUND(AVG(u[dim]), 6) AS m
                FROM a{it}, range(1, 65) AS r(dim)
                GROUP BY centroid_id, dim
            )""")
            ctes.append(f"""
            craw{it} AS (
                SELECT centroid_id, list(m ORDER BY dim) AS cvec
                FROM m{it} GROUP BY centroid_id
            )""")
            ctes.append(f"""
            c{it + 1} AS (
                SELECT centroid_id,
                       list_transform(cvec,
                           x -> ROUND(x / sqrt(list_sum(
                               list_transform(cvec, y -> y * y))), 6)) AS cu
                FROM craw{it}
            )""")
            prev = f"c{it + 1}"
        ctes.append(f"""
            af AS (
                SELECT vec_id, u, centroid_id FROM (
                    SELECT unit.vec_id, unit.u, {prev}.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY unit.vec_id
                               ORDER BY ROUND(list_dot_product(unit.u,
                                              {prev}.cu), 6) DESC,
                                        {prev}.centroid_id ASC) AS rk
                    FROM unit CROSS JOIN {prev}
                ) WHERE rk = 1
            )""")
        return ctes, prev

    def _pq_family(subs_sql: str) -> "tuple[list, str]":
        """The 2-iteration PQ codebook CTE family over an arbitrary
        (vec_id, sub_id, sub) CTE body (unit slices for flat PQ,
        residual slices for IVFADC). Returns (ctes, final codebook
        CTE name); 'codes' is the encoded corpus."""
        ctes = [
            f"subs AS ({subs_sql})",
            """pc0 AS (
                SELECT sub_id, vec_id AS centroid_id, sub AS cvec
                FROM subs WHERE vec_id < 8
            )""",
        ]
        prev = "pc0"
        for it in range(2):
            ctes.append(f"""
            pa{it} AS (
                SELECT vec_id, sub_id, sub, centroid_id FROM (
                    SELECT subs.vec_id, subs.sub_id, subs.sub,
                           {prev}.centroid_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY subs.vec_id, subs.sub_id
                               ORDER BY ROUND(list_dot_product(subs.sub,
                                              {prev}.cvec), 6) DESC,
                                        {prev}.centroid_id ASC) AS rk
                    FROM subs JOIN {prev} USING (sub_id)
                ) WHERE rk = 1
            )""")
            ctes.append(f"""
            pm{it} AS (
                SELECT sub_id, centroid_id, dim,
                       ROUND(AVG(sub[dim]), 6) AS m
                FROM pa{it}, range(1, 17) AS r(dim)
                GROUP BY sub_id, centroid_id, dim
            )""")
            ctes.append(f"""
            pc{it + 1} AS (
                SELECT sub_id, centroid_id, list(m ORDER BY dim) AS cvec
                FROM pm{it} GROUP BY sub_id, centroid_id
            )""")
            prev = f"pc{it + 1}"
        ctes.append(f"""
            codes AS (
                SELECT vec_id, sub_id, centroid_id FROM (
                    SELECT subs.vec_id, subs.sub_id, {prev}.centroid_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY subs.vec_id, subs.sub_id
                               ORDER BY ROUND(list_dot_product(subs.sub,
                                              {prev}.cvec), 6) DESC,
                                        {prev}.centroid_id ASC) AS rk
                    FROM subs JOIN {prev} USING (sub_id)
                ) WHERE rk = 1
            )""")
        return ctes, prev

    km_ctes, prev = _km_family(_UNIT)
    _UNIT_SUBS = """
            SELECT vec_id, r.s AS sub_id,
                   list_slice(u, r.s * 16 + 1, r.s * 16 + 16) AS sub
            FROM unit CROSS JOIN range(0, 4) r(s)
        """
    _pqf, pq_prev = _pq_family(_UNIT_SUBS)
    pq_ctes = [f"unit AS ({_UNIT})"] + _pqf
    sql["pq_topk"] = f"""
        WITH {','.join(pq_ctes)},
        q AS (
            SELECT vec_id AS query_id, sub_id, sub AS qsub
            FROM subs WHERE vec_id < 4
        ),
        tab AS (
            SELECT query_id, sub_id, centroid_id,
                   ROUND(list_dot_product(qsub, cvec), 6) AS part
            FROM q JOIN {pq_prev} USING (sub_id)
        ),
        parts AS (
            SELECT query_id, vec_id, sub_id, part
            FROM codes JOIN tab USING (sub_id, centroid_id)
            WHERE query_id != vec_id
        ),
        scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(MAX(part) FILTER (WHERE sub_id = 0)
                         + MAX(part) FILTER (WHERE sub_id = 1)
                         + MAX(part) FILTER (WHERE sub_id = 2)
                         + MAX(part) FILTER (WHERE sub_id = 3), 6)
                       AS score
            FROM parts GROUP BY query_id, vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
               score
        FROM ranked WHERE rank <= 3
    """
    sql["ivf_kmeans_topk"] = f"""
        WITH {','.join(km_ctes)},
        q AS (
            SELECT vec_id AS query_id, u AS qu, centroid_id AS qlist
            FROM af WHERE vec_id < 4
        ),
        scored AS (
            SELECT query_id, a.vec_id AS neighbor_id,
                   ROUND(list_dot_product(qu, a.u), 6) AS sim
            FROM q JOIN af a ON q.qlist = a.centroid_id
            WHERE a.vec_id != query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 3
    """
    # IVF x PQ: reuse the coarse-kmeans CTEs (unit, af) and the PQ
    # CTEs (subs, pc*, codes) — pq_ctes[0] is the duplicate unit
    sql["ivfpq_topk"] = f"""
        WITH {','.join(km_ctes + pq_ctes[1:])},
        q AS (
            SELECT vec_id AS query_id, u AS qu, centroid_id AS qlist
            FROM af WHERE vec_id < 4
        ),
        cand AS (
            SELECT q.query_id, af.vec_id
            FROM q JOIN af ON q.qlist = af.centroid_id
            WHERE af.vec_id != q.query_id
        ),
        qsubs AS (
            SELECT query_id, r.s AS sub_id,
                   list_slice(qu, r.s * 16 + 1, r.s * 16 + 16) AS qsub
            FROM q CROSS JOIN range(0, 4) r(s)
        ),
        tab AS (
            SELECT query_id, sub_id, centroid_id,
                   ROUND(list_dot_product(qsub, cvec), 6) AS part
            FROM qsubs JOIN {pq_prev} USING (sub_id)
        ),
        parts AS (
            SELECT cand.query_id, cand.vec_id, codes.sub_id, tab.part
            FROM cand
            JOIN codes USING (vec_id)
            JOIN tab ON tab.query_id = cand.query_id
                    AND tab.sub_id = codes.sub_id
                    AND tab.centroid_id = codes.centroid_id
        ),
        scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(MAX(part) FILTER (WHERE sub_id = 0)
                         + MAX(part) FILTER (WHERE sub_id = 1)
                         + MAX(part) FILTER (WHERE sub_id = 2)
                         + MAX(part) FILTER (WHERE sub_id = 3), 6)
                       AS score
            FROM parts GROUP BY query_id, vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
               score
        FROM ranked WHERE rank <= 3
    """
    # round 8: residual IVFPQ (IVFADC) over the CLUSTERED synthetic
    # corpus — the km + pq families rebuilt over the clustered unit
    # CTE; PQ trains on residual slices; the ADC LUT is the L2 form
    # ||r_q_sub - cw||^2 (an inner-product LUT on the full query
    # multiplies pooled-codeword cluster offsets by the centroid
    # direction and destroys the ranking — measured, see
    # operators/similarity.ivfpq_residual_topk)
    _CUNIT = """
        SELECT vec_id,
               list_transform(e, x -> x / sqrt(list_sum(
                   list_transform(e, y -> y * y)))) AS u
        FROM (
            SELECT vec_id,
                   list_transform(range(0, 64), j -> CAST(
                       10 * (((vec_id % 8) * 37 + j * 11) % 19 - 9)
                       + 2 * ((((CASE
                                  WHEN j < 16 OR (j >= 32 AND j < 48)
                                  THEN (vec_id // 32) % 8
                                  ELSE ((vec_id // 256) % 8
                                        + 2 * ((vec_id // 32) % 4)) % 8
                                  END + vec_id % 8) % 8) * 23
                               + j * 5) % 9) - 8
                       + (vec_id * 13 + j * 7) % 3 - 1
                   AS DOUBLE)) AS e
            FROM embeddings
        )
    """
    rkm_ctes, rk_prev = _km_family(_CUNIT)
    _RESID_CTE = f"""
        resid AS (
            SELECT af.vec_id, af.centroid_id,
                   list_transform(range(1, 65),
                       i -> ROUND(af.u[i] - c.cu[i], 6)) AS rv
            FROM af JOIN {rk_prev} c USING (centroid_id)
        )"""
    _RESID_SUBS = """
            SELECT vec_id, r.s AS sub_id,
                   list_slice(rv, r.s * 16 + 1, r.s * 16 + 16) AS sub
            FROM resid CROSS JOIN range(0, 4) r(s)
        """
    rpq_ctes, rpq_prev = _pq_family(_RESID_SUBS)
    sql["ivfpq_residual_topk"] = f"""
        WITH {','.join(rkm_ctes)}, {_RESID_CTE}, {','.join(rpq_ctes)},
        q AS (
            SELECT vec_id AS query_id, centroid_id AS qlist, rv AS qres
            FROM resid WHERE vec_id < 4
        ),
        cand AS (
            SELECT q.query_id, af.vec_id
            FROM q JOIN af ON q.qlist = af.centroid_id
            WHERE af.vec_id != q.query_id
        ),
        qsubs AS (
            SELECT query_id, r.s AS sub_id,
                   list_slice(qres, r.s * 16 + 1, r.s * 16 + 16) AS qsub
            FROM q CROSS JOIN range(0, 4) r(s)
        ),
        tab AS (
            SELECT query_id, sub_id, centroid_id,
                   ROUND(list_sum(list_transform(range(1, 17),
                       i -> (qsub[i] - cvec[i]) * (qsub[i] - cvec[i]))),
                       6) AS part
            FROM qsubs JOIN {rpq_prev} USING (sub_id)
        ),
        parts AS (
            SELECT cand.query_id, cand.vec_id, codes.sub_id, tab.part
            FROM cand
            JOIN codes USING (vec_id)
            JOIN tab ON tab.query_id = cand.query_id
                    AND tab.sub_id = codes.sub_id
                    AND tab.centroid_id = codes.centroid_id
        ),
        scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(MAX(part) FILTER (WHERE sub_id = 0)
                         + MAX(part) FILTER (WHERE sub_id = 1)
                         + MAX(part) FILTER (WHERE sub_id = 2)
                         + MAX(part) FILTER (WHERE sub_id = 3), 6)
                       AS score
            FROM parts GROUP BY query_id, vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
               score
        FROM ranked WHERE rank <= 3
    """
    _exact_clustered = f"""
        WITH unit AS ({_CUNIT}), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.u, c.u) AS sim
            FROM unit q JOIN unit c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 4
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
    """
    sql["ivfpq_recall_clustered"] = f"""
        WITH exact AS ({_exact_clustered}
        ), approx AS (
            SELECT query_id, neighbor_id
            FROM ({sql["ivfpq_residual_topk"]})
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS INTEGER) AS n_hits,
               ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    """
    sql["overlay_rename"] = """
        SELECT doc_id, 'img00,img00~1' AS media_refs FROM documents
    """
    sql["write_enriched"] = """
        SELECT doc_id,
               'bm-' || CAST(doc_id AS VARCHAR) AS bm_title,
               'https://example.org/w/' || CAST(doc_id AS VARCHAR) AS uri,
               'doc-' || CAST(doc_id AS VARCHAR) AS title
        FROM documents
    """
    sql["write_encrypted"] = f"""
        SELECT doc_id, {_SANITIZED} || chr(10) AS full_text FROM documents
    """
    sql["write_aes256"] = sql["write_encrypted"]
    sql["write_rc4_40"] = sql["write_encrypted"]
    # write_viewer_prefs: layouts[d%7] / modes[d%6] from the reference's
    # accepted lists (_writer.py:1147-1155, 1207-1214)
    sql["write_viewer_prefs"] = """
        SELECT doc_id,
               CASE doc_id % 7
                    WHEN 0 THEN '/NoLayout' WHEN 1 THEN '/SinglePage'
                    WHEN 2 THEN '/OneColumn' WHEN 3 THEN '/TwoColumnLeft'
                    WHEN 4 THEN '/TwoColumnRight' WHEN 5 THEN '/TwoPageLeft'
                    ELSE '/TwoPageRight' END AS page_layout,
               CASE doc_id % 6
                    WHEN 0 THEN '/UseNone' WHEN 1 THEN '/UseOutlines'
                    WHEN 2 THEN '/UseThumbs' WHEN 3 THEN '/FullScreen'
                    WHEN 4 THEN '/UseOC'
                    ELSE '/UseAttachments' END AS page_mode
        FROM documents
    """
    sql["write_form_fill"] = """
        SELECT doc_id,
               'wfld-' || CAST(doc_id AS VARCHAR) AS name,
               'wval-' || CAST(doc_id AS VARCHAR) AS value,
               '/Tx' AS ft
        FROM documents
    """
    sql["write_navigation"] = """
        SELECT doc_id,
               'child-' || CAST(doc_id AS VARCHAR) || ':1:1,root-'
                   || CAST(doc_id AS VARCHAR) || ':0:0' AS outline,
               'nd-' || CAST(doc_id AS VARCHAR) AS nd_name,
               CAST(1 AS INTEGER) AS nd_page,
               CAST(1 AS INTEGER) AS dest_page,
               'https://example.org/n/' || CAST(doc_id AS VARCHAR) AS uri,
               'app.alert(''' || CAST(doc_id AS VARCHAR) || ''');' AS js
        FROM documents
    """
    sql["attachments"] = """
        SELECT doc_id,
               'att-' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
               CAST(8 + length(CAST(doc_id AS VARCHAR)) AS INTEGER)
                   AS n_bytes,
               substr(sha256('payload-' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS sha8
        FROM documents
    """
    sql["ccitt_ink_ratio"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(16 + doc_id % 32 AS INTEGER) AS width,
               CAST(8 + doc_id % 16 AS INTEGER) AS height,
               ROUND(CAST((8 + doc_id % 16) // 2 AS DOUBLE)
                     / (8 + doc_id % 16), 6) AS ink_ratio
        FROM documents
    """
    # ann_recall: recall@3 of the IVF probe against the exact baseline —
    # built from the two existing ANN oracles (exact re-parameterized to
    # the same 4 queries / k=3 as the probe side)
    _exact_k3 = sql["ann_cosine_topk"].replace(
        "q.vec_id < 8", "q.vec_id < 4"
    ).replace("rank <= 5", "rank <= 3")
    assert "q.vec_id < 4" in _exact_k3 and "rank <= 3" in _exact_k3
    sql["pq_recall"] = f"""
        WITH exact AS (
            SELECT query_id, neighbor_id FROM ({_exact_k3})
        ), approx AS (
            SELECT query_id, neighbor_id FROM ({sql["pq_topk"]})
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS INTEGER) AS n_hits,
               ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    """
    sql["ann_recall"] = f"""
        WITH exact AS (
            SELECT query_id, neighbor_id FROM ({_exact_k3})
        ), approx AS (
            SELECT query_id, neighbor_id FROM ({sql["ann_ivf_nprobe2"]})
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS INTEGER) AS n_hits,
               ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    """
    # jpeg_pixel_stats: tile t of doc d is planted at 78 + 2*((t*7+d)%51)
    # (even offset from 128 -> survives DC quantization exactly); mean
    # luminance = mean of the tile values (each tile is 64 equal pixels)
    sql["jpeg_pixel_stats"] = """
        WITH imgs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS d,
                   CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height
            FROM documents
        ), tiles AS (
            SELECT doc_id, d, width, height,
                   unnest(range(0, (width // 8) * (height // 8))) AS t
            FROM imgs
        )
        SELECT doc_id, width, height,
               ROUND(SUM(78 + 2 * ((t * 7 + d) % 51))
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM tiles GROUP BY doc_id, width, height
    """
    # jpeg12_pixel_stats: 12-bit tiles planted at 1248 + 32*((t*7+d)%51)
    # = 16x the 8-bit corpus (multiple-of-32 offsets from the 2048
    # level shift survive the x16 DC quantization exactly)
    sql["jpeg12_pixel_stats"] = """
        WITH imgs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS d,
                   CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height
            FROM documents
        ), tiles AS (
            SELECT doc_id, d, width, height,
                   unnest(range(0, (width // 8) * (height // 8))) AS t
            FROM imgs
        )
        SELECT doc_id, width, height,
               ROUND(SUM(1248 + 32 * ((t * 7 + d) % 51))
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM tiles GROUP BY doc_id, width, height
    """
    # dup_substring_ranges: maximal ranges covered by 40-grams occurring
    # >1 time corpus-wide; DuckDB groups by the gram TEXT (Spark uses
    # xxhash64 — agreement certifies collision-freeness), then the same
    # lag + running-sum interval union
    sql["dup_substring_ranges"] = """
        WITH grams AS (
            SELECT doc_id, CAST(i AS INTEGER) AS pos,
                   substring(text, CAST(i + 1 AS INTEGER), 40) AS g
            FROM documents,
                 unnest(range(0, CAST(greatest(length(text) - 39, 0)
                                      AS BIGINT))) AS t(i)
        ), dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS n
                FROM grams
            ) WHERE n > 1
        ), grp AS (
            SELECT doc_id, pos,
                   SUM(CASE WHEN prev IS NULL OR pos - prev > 40
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS gid
            FROM (SELECT doc_id, pos,
                         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             AS prev
                  FROM dup)
        )
        SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS range_start,
               CAST(MAX(pos) + 40 AS INTEGER) AS range_end
        FROM grp GROUP BY doc_id, gid
    """
    # substring_scrub: removed-char count + resulting clean length from
    # the same interval union (LEFT JOIN keeps duplication-free docs)
    sql["substring_scrub"] = f"""
        WITH ranges AS ({sql['dup_substring_ranges']}),
        per_doc AS (
            SELECT doc_id,
                   SUM(range_end - range_start) AS n_dup
            FROM ranges GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_dup, 0) AS INTEGER) AS n_dup_chars,
               CAST(length(d.text) - COALESCE(p.n_dup, 0) AS INTEGER)
                   AS clean_len
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """
    # gif_pixel_stats: gray palette[k] = 30 + ((d + k*7) % 26) * 8;
    # width is a multiple of the 8-entry palette and index = (x+y) % 8,
    # so decoded mean luminance == average of the palette exactly
    sql["gif_pixel_stats"] = """
        WITH pals AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 8) AS INTEGER) AS height,
                   unnest(range(0, 8)) AS k,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM(30 + ((d + k * 7) % 26) * 8)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM pals GROUP BY doc_id, width, height
    """
    # hash_split: md5-bucket assignment is engine-portable (DuckDB md5
    # of the same string; 3 hex digits -> 0..4095)
    sql["hash_split"] = """
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5('split:' ||
                    CAST(doc_id AS VARCHAR)), 1, 3) AS INTEGER)
                    AS INTEGER) AS bucket,
               CASE WHEN CAST('0x' || substr(md5('split:' ||
                    CAST(doc_id AS VARCHAR)), 1, 3) AS INTEGER) * 1000
                    < 100 * 4096 THEN 'val' ELSE 'train' END AS split
        FROM documents
    """
    # line_dedup: first-occurrence survival keyed on doc_id*1e9+pos;
    # the oracle groups by the line TEXT (collision certificate for
    # the engine's xxhash64 key)
    sql["line_dedup"] = """
        WITH firsts AS (
            SELECT text AS t, MIN(doc_id) AS first_doc
            FROM documents GROUP BY text
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id = f.first_doc THEN d.text ELSE '' END
                   AS text,
               CAST(CASE WHEN d.doc_id = f.first_doc THEN 0 ELSE 1 END
                    AS INTEGER) AS n_dropped_lines
        FROM documents d JOIN firsts f ON d.text = f.t
    """
    # bigram_surprisal: corpus-MLE conditional surprisal, micro-unit
    # quantized (same float discipline as token_rarity); prefix counts
    # derive from the bigram counts so conditionals sum to 1
    sql["bigram_surprisal"] = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents
        ), bg AS (
            SELECT doc_id,
                   list_extract(t, CAST(i + 1 AS INTEGER)) AS w1,
                   list_extract(t, CAST(i + 2 AS INTEGER)) AS w2
            FROM toks, unnest(range(0, CAST(len(t) - 1 AS BIGINT)))
                 AS u(i)
            WHERE len(t) >= 2
        ), bf AS (
            SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
        ), uf AS (
            SELECT w1, SUM(c2) AS c1 FROM bf GROUP BY w1
        )
        SELECT doc_id,
               ROUND(SUM(CAST(ROUND(-log10(c2 / CAST(c1 AS DOUBLE))
                                    * 1000000) AS BIGINT))
                     / (COUNT(*) * 1000000.0), 6) AS surprisal,
               COUNT(*) AS n_bigrams
        FROM bg JOIN bf USING (w1, w2) JOIN uf USING (w1)
        GROUP BY doc_id
    """
    # token_rarity: mirrored two-aggregation IDF shape; per-token
    # -log10 rounded 6dp before the mean on both engines
    sql["token_rarity"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
        ), freq AS (
            SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ), tot AS (SELECT SUM(cnt) AS total FROM freq)
        SELECT doc_id,
               ROUND(SUM(CAST(ROUND(-log10(cnt / (SELECT total FROM tot))
                                    * 1000000) AS BIGINT))
                     / (COUNT(*) * 1000000.0), 6) AS rarity,
               COUNT(*) AS n_tokens
        FROM toks JOIN freq USING (tok)
        GROUP BY doc_id
    """
    # gif_anim_stats: frame count / summed delays / first-frame mean
    # are all doc_id formulas baked into synthesize_animated_gif_media
    sql["gif_anim_stats"] = """
        WITH pals AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 8) AS INTEGER) AS height,
                   CAST(1 + doc_id % 4 AS INTEGER) AS n_frames,
                   CAST((1 + doc_id % 4) * (10 + doc_id % 20) * 10
                        AS INTEGER) AS duration_ms,
                   unnest(range(0, 8)) AS k,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height, n_frames, duration_ms,
               ROUND(SUM(30 + ((d + k * 7) % 26) * 8)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM pals GROUP BY doc_id, width, height, n_frames, duration_ms
    """
    # tiff_pixel_stats / jpeg_lossless_stats: row y is constant, so
    # the pixel mean is the row-value mean (heights 8/16 keep the
    # decimals terminating)
    sql["tiff_pixel_stats"] = """
        WITH rws AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height,
                   unnest(range(0, 8 + (doc_id % 2) * 8)) AS y,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM(40 + ((d + y * 11) % 50) * 4)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM rws GROUP BY doc_id, width, height
    """
    sql["jpeg_lossless_stats"] = """
        WITH rws AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(24 + (doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height,
                   unnest(range(0, 8 + (doc_id % 2) * 8)) AS y,
                   doc_id AS d
            FROM documents
        )
        SELECT doc_id, width, height,
               ROUND(SUM(400 + ((d + y * 13) % 200) * 16)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM rws GROUP BY doc_id, width, height
    """
    # pdf_embedded_media: same planted tiles as jpeg_pixel_stats, but
    # the engine must round-trip them THROUGH a written PDF first
    sql["pdf_embedded_media"] = """
        WITH imgs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS d,
                   CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS height
            FROM documents
        ), tiles AS (
            SELECT doc_id, d, width, height,
                   unnest(range(0, (width // 8) * (height // 8))) AS t
            FROM imgs
        )
        SELECT doc_id, 'p0/img00' AS media_ref, 'jpeg' AS fmt,
               width, height,
               ROUND(SUM(78 + 2 * ((t * 7 + d) % 51))
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        FROM tiles GROUP BY doc_id, d, width, height
    """
    sql["repetition_ratio"] = f"""
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct,
               CASE WHEN len(t) > 0
                    THEN ROUND(1.0 - len(list_distinct(t))
                               / CAST(len(t) AS DOUBLE), 6)
                    ELSE 0.0 END AS repetition
        FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
    """
    sql["duplicate_ngrams"] = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(0, len(t) - 4),
                       i -> array_to_string(list_slice(t, i + 1, i + 5),
                                            ' '))) AS gram
            FROM toks WHERE len(t) >= 5
        )
        SELECT md5(gram) AS gram_hash,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences
        FROM grams GROUP BY md5(gram)
        HAVING COUNT(DISTINCT doc_id) >= 2
    """
    # benchmark_contamination: benchmark = texts of docs with
    # doc_id % 97 == 0; hits = 5-token windows shared with that set
    sql["benchmark_contamination"] = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents
        ), win AS (
            SELECT doc_id,
                   unnest(list_transform(range(0, len(t) - 4),
                       i -> array_to_string(list_slice(t, i + 1, i + 5),
                                            ' '))) AS gram
            FROM toks WHERE len(t) >= 5
        ), bench AS (
            SELECT DISTINCT gram FROM win WHERE doc_id % 97 = 0
        ), hits AS (
            SELECT w.doc_id, COUNT(*) AS n_hits
            FROM win w JOIN bench b USING (gram) GROUP BY w.doc_id
        )
        SELECT toks.doc_id,
               CAST(greatest(len(t) - 4, 0) AS INTEGER) AS n_windows,
               CAST(COALESCE(n_hits, 0) AS INTEGER) AS n_hits,
               COALESCE(n_hits, 0) > 0 AS contaminated
        FROM toks LEFT JOIN hits ON toks.doc_id = hits.doc_id
    """
    # png_pixel_stats: make_png plants byte (x*3+y)%256 at byte-index x
    # of row y (R of pixel p = (9p+y)%256, G = (9p+3+y)%256, B =
    # (9p+6+y)%256); the oracle re-derives the integer luminance sum
    # pixel-by-pixel while the engine must inflate + unfilter the real
    # scanlines to reproduce it
    sql["png_pixel_stats"] = """
        WITH imgs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(16 + doc_id % 32 AS INTEGER) AS width,
                   CAST(8 + doc_id % 16 AS INTEGER) AS height
            FROM documents WHERE doc_id % 2 = 0
        ), xs AS (
            SELECT doc_id, width, height,
                   unnest(range(0, width)) AS px
            FROM imgs
        ), xy AS (
            SELECT doc_id, width, height, px,
                   unnest(range(0, height)) AS y
            FROM xs
        )
        SELECT doc_id, width, height,
               ROUND(SUM(299 * ((9 * px + y) % 256)
                       + 587 * ((9 * px + 3 + y) % 256)
                       + 114 * ((9 * px + 6 + y) % 256))
                     / (1000.0 * width * height), 6) AS mean_luma
        FROM xy GROUP BY doc_id, width, height
    """
    # av_media_features: expected WAV/MP4/MP3/MKV container metadata
    # restated by formula; the engine must parse the real RIFF chunks /
    # BMFF boxes / Layer-III frame headers / EBML elements to match
    sql["av_media_features"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CASE WHEN doc_id % 7 IN (1, 3, 6) THEN 'video' ELSE 'audio'
                   END AS modality,
               CASE doc_id % 7 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4'
                               WHEN 2 THEN 'mp3' WHEN 3 THEN 'mkv'
                               WHEN 4 THEN 'flac'
                               WHEN 5 THEN (CASE WHEN doc_id % 2 = 0
                                            THEN 'ogg-vorbis'
                                            ELSE 'ogg-opus' END)
                               ELSE 'avi' END AS fmt,
               CAST(CASE doc_id % 7
                         WHEN 0 THEN 100 + doc_id % 400
                         WHEN 1 THEN 500 + doc_id % 1000
                         WHEN 2 THEN (5 + doc_id % 20) * 36
                         WHEN 3 THEN 700 + doc_id % 900
                         WHEN 4 THEN 200 + doc_id % 600
                         WHEN 5 THEN 300 + doc_id % 500
                         ELSE ((400 + doc_id % 800) // 40) * 40
                         END AS INTEGER) AS duration_ms,
               CAST(CASE doc_id % 7
                         WHEN 0 THEN 8000 + (doc_id % 8) * 1000
                         WHEN 2 THEN 32000
                         WHEN 4 THEN 16000 + (doc_id % 4) * 8000
                         WHEN 5 THEN (CASE WHEN doc_id % 2 = 0 THEN 24000
                                      ELSE 16000 + (doc_id % 3) * 16000 END)
                         ELSE -1 END AS INTEGER) AS sample_rate,
               CAST(CASE doc_id % 7
                         WHEN 1 THEN 320 + (doc_id % 8) * 16
                         WHEN 3 THEN 100 + doc_id % 300
                         WHEN 6 THEN 160 + (doc_id % 10) * 32
                         ELSE -1 END AS INTEGER) AS width,
               CAST(CASE doc_id % 7
                         WHEN 1 THEN 240 + (doc_id % 4) * 16
                         WHEN 3 THEN 80 + doc_id % 200
                         WHEN 6 THEN 120 + (doc_id % 6) * 32
                         ELSE -1 END AS INTEGER) AS height,
               CAST(CASE doc_id % 7
                         WHEN 0 THEN 8
                         WHEN 4 THEN 16
                         ELSE -1 END AS INTEGER) AS bits
        FROM documents
    """
    # wav_pcm_stats (round 6): the planted square/G.711 waveforms'
    # exact sample statistics restated by formula — the engine must
    # walk the RIFF chunks and decode EVERY sample (PCM 16/8-bit +
    # mu-law/A-law expansion) to match. Amplitudes are terminating
    # binary fractions, so every 6-dp round is exact on both engines;
    # mu-law 0x80/0x00 -> +-32124 and A-law 0xAA/0x2A -> +-32256 are
    # the public G.711 expansion values.
    sql["wav_pcm_stats"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE doc_id % 6
                         WHEN 0 THEN 2 * (100 + doc_id % 250)
                         WHEN 1 THEN 2 * (50 + doc_id % 200)
                         WHEN 4 THEN 2 * (40 + doc_id % 80)
                         WHEN 5 THEN 2 * (30 + doc_id % 60)
                         ELSE 2 * (60 + doc_id % 100)
                         END AS INTEGER) AS n_samples,
               ROUND(CASE doc_id % 6
                          WHEN 0 THEN (4096 * (1 + doc_id % 7)) / 32768.0
                          WHEN 1 THEN (2 * (1 + doc_id % 63)) / 128.0
                          WHEN 2 THEN 32124 / 32768.0
                          WHEN 3 THEN 32256 / 32768.0
                          ELSE 0.125 * (1 + doc_id % 7)
                          END, 6) AS rms,
               ROUND(CASE doc_id % 6
                          WHEN 0 THEN (4096 * (1 + doc_id % 7)) / 32768.0
                          WHEN 1 THEN (2 * (1 + doc_id % 63)) / 128.0
                          WHEN 2 THEN 32124 / 32768.0
                          WHEN 3 THEN 32256 / 32768.0
                          ELSE 0.125 * (1 + doc_id % 7)
                          END, 6) AS peak,
               CAST(0.0 AS DOUBLE) AS mean
        FROM documents
    """
    # video_frame_stats (round 7): per-frame MJPEG decode — each
    # doc's AVI carries nf = 1 + d%5 uniform EVEN-gray JPEG frames
    # (even values survive the DC quantizer exactly), restated by a
    # generate_series cross join; the engine must walk LIST movi and
    # run the full JPEG decode per frame.
    sql["video_frame_stats"] = """
        SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
               CAST(t.i AS INTEGER) AS frame_idx,
               CAST(16 + 8 * (d.doc_id % 4) AS INTEGER) AS width,
               CAST(8 + 8 * (d.doc_id % 3) AS INTEGER) AS height,
               CAST(16 + 2 * ((d.doc_id + 37 * t.i) % 112) AS DOUBLE)
                   AS mean_luma
        FROM documents d CROSS JOIN generate_series(0, 4) t(i)
        WHERE t.i < 1 + d.doc_id % 5
    """
    # aiff_au_pcm_stats (round 7): big-endian containers — the
    # planted AIFF/AU squares' exact stats by formula (all
    # terminating binary fractions; mu-law/A-law expansion values are
    # the public G.711 constants). The engine walks IFF chunks /
    # the .snd header and decodes every BE sample to match.
    sql["aiff_au_pcm_stats"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE doc_id % 8
                         WHEN 0 THEN 2 * (50 + doc_id % 200)
                         WHEN 1 THEN 2 * (40 + doc_id % 120)
                         WHEN 2 THEN 2 * (30 + doc_id % 90)
                         WHEN 6 THEN 2 * (50 + doc_id % 150)
                         WHEN 7 THEN 2 * (40 + doc_id % 120)
                         ELSE 2 * (60 + doc_id % 100)
                         END AS BIGINT) AS n_samples,
               ROUND(CASE doc_id % 8
                          WHEN 1 THEN (2 * (1 + doc_id % 63)) / 128.0
                          WHEN 2 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 4 THEN 32124 / 32768.0
                          WHEN 5 THEN 32256 / 32768.0
                          WHEN 7 THEN 32124 / 32768.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS rms,
               ROUND(CASE doc_id % 8
                          WHEN 1 THEN (2 * (1 + doc_id % 63)) / 128.0
                          WHEN 2 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 4 THEN 32124 / 32768.0
                          WHEN 5 THEN 32256 / 32768.0
                          WHEN 7 THEN 32124 / 32768.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS peak,
               CAST(0.0 AS DOUBLE) AS mean
        FROM documents
    """
    # mp4_audio_stats (round 7): PCM in ISO-BMFF — sample-table
    # resolution + LE/BE/24-bit/unsigned-8 PCM decode; exact squares.
    sql["mp4_audio_stats"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE doc_id % 4
                         WHEN 0 THEN 2 * (50 + doc_id % 200)
                         WHEN 1 THEN 2 * (60 + doc_id % 100)
                         WHEN 2 THEN 2 * (40 + doc_id % 80)
                         ELSE 2 * (50 + doc_id % 120)
                         END AS BIGINT) AS n_samples,
               ROUND(CASE doc_id % 4
                          WHEN 2 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 3 THEN (2 * (1 + doc_id % 63)) / 128.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS rms,
               ROUND(CASE doc_id % 4
                          WHEN 2 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 3 THEN (2 * (1 + doc_id % 63)) / 128.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS peak,
               CAST(0.0 AS DOUBLE) AS mean
        FROM documents
    """
    # audio_segment_stats (round 7): 64-sample windows over the
    # decoded stream; the corpus aligns loud (square +-4096k) and
    # silent blocks to segment boundaries. L = 2+d%3 loud then
    # Q = 1+d%2 silent per repeat, r = 1+d%3 repeats.
    sql["audio_segment_stats"] = """
        WITH p AS (
            SELECT doc_id,
                   1 + doc_id % 7 AS k,
                   2 + doc_id % 3 AS l,
                   1 + doc_id % 2 AS q,
                   1 + doc_id % 3 AS r
            FROM documents
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(t.i AS INTEGER) AS seg_idx,
               CAST(64 AS BIGINT) AS n_samples,
               ROUND(CASE WHEN (t.i % (l + q)) < l
                          THEN (4096 * k) / 32768.0 ELSE 0.0 END, 6)
                   AS rms,
               ROUND(CASE WHEN (t.i % (l + q)) < l
                          THEN (4096 * k) / 32768.0 ELSE 0.0 END, 6)
                   AS peak,
               CAST(0.0 AS DOUBLE) AS mean
        FROM p CROSS JOIN generate_series(0, 17) t(i)
        WHERE t.i < r * (l + q)
    """
    # audio_silence_spans (round 7): repeat j's silent island runs
    # seg [j*(L+Q)+L, j*(L+Q)+L+Q-1], Q segments long.
    sql["audio_silence_spans"] = """
        WITH p AS (
            SELECT doc_id,
                   2 + doc_id % 3 AS l,
                   1 + doc_id % 2 AS q,
                   1 + doc_id % 3 AS r
            FROM documents
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               'seg-wav-' || CAST(doc_id AS VARCHAR) AS media_ref,
               CAST(j.j * (l + q) + l AS INTEGER) AS span_start,
               CAST(j.j * (l + q) + l + q - 1 AS INTEGER) AS span_end,
               CAST(q AS BIGINT) AS n_segs
        FROM p CROSS JOIN generate_series(0, 2) j(j)
        WHERE j.j < r
    """
    # video_scene_cuts (round 7): lag-window deltas over the decoded
    # frame sequence; the planted grays make every delta closed-form.
    sql["video_scene_cuts"] = """
        WITH f AS (
            SELECT d.doc_id, t.i AS frame_idx,
                   CAST(16 + 2 * ((d.doc_id + 37 * t.i) % 112)
                        AS DOUBLE) AS mean_luma,
                   CAST(16 + 2 * ((d.doc_id + 37 * (t.i - 1)) % 112)
                        AS DOUBLE) AS prev_luma
            FROM documents d CROSS JOIN generate_series(0, 4) t(i)
            WHERE t.i < 1 + d.doc_id % 5
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               mean_luma, prev_luma,
               mean_luma - prev_luma AS delta
        FROM f
        WHERE frame_idx >= 1 AND ABS(mean_luma - prev_luma) >= 60.0
    """
    # ogg_flac_stats (round 7): Ogg-encapsulated FLAC — every page
    # CRC-verified, packets reassembled through lacing (incl.
    # page-spanning continuations), native stream rebuilt, full frame
    # decode. Squares of +-4096k: rms = peak = k/8 (exact eighths),
    # mean 0 on every variant.
    sql["ogg_flac_stats"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE doc_id % 4
                         WHEN 0 THEN 2 * (50 + doc_id % 200)
                         WHEN 2 THEN 2 * (300 + doc_id % 300)
                         ELSE 2 * (60 + doc_id % 100)
                         END AS BIGINT) AS n_samples,
               ROUND((4096 * (1 + doc_id % 7)) / 32768.0, 6) AS rms,
               ROUND((4096 * (1 + doc_id % 7)) / 32768.0, 6) AS peak,
               CAST(0.0 AS DOUBLE) AS mean
        FROM documents
    """
    # adpcm_pcm_stats (round 7): the planted IMA/MS ADPCM nibble
    # streams decode (per the public adaptation tables) to closed-form
    # waveforms; the oracle restates n/rms/peak/mean per variant,
    # mirroring the kernel's float op order exactly (sum/n then /full;
    # sqrt(ss/n) then /full) so the doubles are bit-identical. Peaks
    # are terminating binary fractions; the alternating variants'
    # rms/mean go through the same exact-int -> IEEE-double -> ROUND
    # path on both engines.
    sql["adpcm_pcm_stats"] = """
        WITH p AS (
            SELECT doc_id,
                   doc_id % 4 AS v,
                   1 + doc_id % 7 AS k,
                   1 + doc_id % 4 AS b,
                   2 + doc_id % 6 AS g0,
                   1 + doc_id % 5 AS g1,
                   2 + doc_id % 7 AS m2,
                   1 + doc_id % 6 AS m3
            FROM documents
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE v WHEN 0 THEN b * (1 + 8 * g0)
                           WHEN 1 THEN b * 2 * (1 + 8 * g1)
                           WHEN 2 THEN b * (2 + 2 * m2)
                           ELSE b * (2 + 2 * m3) END AS BIGINT)
                   AS n_samples,
               ROUND(CASE v
                   WHEN 0 THEN SQRT(
                       (b * (1 + 4 * g0) * (4096 * k - 2) * (4096 * k - 2)
                        + b * 4 * g0 * (4096 * k + 2) * (4096 * k + 2))
                       / (b * (1 + 8 * g0))) / 32768.0
                   WHEN 1 THEN (4096 * k) / 32768.0
                   WHEN 2 THEN SQRT(
                       (b * (2 + m2) * (4096 * k - 8) * (4096 * k - 8)
                        + b * m2 * (4096 * k + 8) * (4096 * k + 8))
                       / (b * (2 + 2 * m2))) / 32768.0
                   ELSE (4096 * k) / 32768.0 END, 6) AS rms,
               ROUND(CASE v
                   WHEN 0 THEN (4096 * k + 2) / 32768.0
                   WHEN 1 THEN (4096 * k) / 32768.0
                   WHEN 2 THEN (4096 * k + 8) / 32768.0
                   ELSE (4096 * k) / 32768.0 END, 6) AS peak,
               ROUND(CASE v
                   WHEN 0 THEN
                       (b * (1 + 4 * g0) * (4096 * k - 2)
                        + b * 4 * g0 * (4096 * k + 2))
                       / (b * (1 + 8 * g0)) / 32768.0
                   WHEN 1 THEN 0.0
                   WHEN 2 THEN
                       (b * (2 + m2) * (4096 * k - 8)
                        + b * m2 * (4096 * k + 8))
                       / (b * (2 + 2 * m2)) / 32768.0
                   ELSE (4096 * k) / 32768.0 END, 6) AS mean
        FROM p
    """
    # flac_pcm_stats (round 7): the planted lossless FLAC waveforms'
    # exact stats by formula — the engine must parse STREAMINFO,
    # frame headers, subframes (CONSTANT/VERBATIM/FIXED-2/LPC),
    # rice residuals (incl. escaped partitions) and mid-side stereo,
    # verifying CRC-8/16, to match. All amplitudes are terminating
    # binary fractions so 6-dp rounds are exact on both engines.
    sql["flac_pcm_stats"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(CASE doc_id % 6
                         WHEN 0 THEN 100 + doc_id % 250
                         WHEN 1 THEN 2 * (50 + doc_id % 200)
                         WHEN 2 THEN 2 * (60 + doc_id % 100)
                         WHEN 3 THEN 2 * (40 + doc_id % 80)
                         WHEN 4 THEN 2 * (60 + doc_id % 100)
                         ELSE 2 * (50 + doc_id % 200)
                         END AS BIGINT) AS n_samples,
               ROUND(CASE doc_id % 6
                          WHEN 0 THEN (1024 * (1 + doc_id % 7)) / 32768.0
                          WHEN 3 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 5 THEN (2 * (1 + doc_id % 31)) / 128.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS rms,
               ROUND(CASE doc_id % 6
                          WHEN 0 THEN (1024 * (1 + doc_id % 7)) / 32768.0
                          WHEN 3 THEN 0.125 * (1 + doc_id % 7)
                          WHEN 5 THEN (2 * (1 + doc_id % 31)) / 128.0
                          ELSE (4096 * (1 + doc_id % 7)) / 32768.0
                          END, 6) AS peak,
               ROUND(CASE doc_id % 6
                          WHEN 0 THEN (1024 * (1 + doc_id % 7)) / 32768.0
                          ELSE 0.0 END, 6) AS mean
        FROM documents
    """
    # media_dims: expected dims restated by formula; the engine must
    # parse the real PNG/JPEG headers to match
    sql["media_dims"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
               CAST(16 + doc_id % 32 AS INTEGER) AS width,
               CAST(8 + doc_id % 16 AS INTEGER) AS height
        FROM documents
    """
    # attachment_audio_stats (round 7): the WAV waveforms ride inside
    # written PDFs as embedded files — the PDF round-trip is
    # byte-lossless, so the expected stats are EXACTLY the
    # wav_pcm_stats closed forms.
    sql["attachment_audio_stats"] = sql["wav_pcm_stats"]
    return {k: v.strip() for k, v in sql.items()}

