"""Text-analysis operators for training-data curation.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — all pure pyspark.sql.functions expressions
(whole-stage codegen, no UDFs), each mirrored 1:1 by oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._kernel import doc_id_str, map_kernel, quarantine_message

# small public stopword lists (enough for a deterministic heuristic)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "para"],
}


def _tokens(col):
    return F.filter(
        F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", " "), " +"),
        lambda t: t != F.lit(""),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Predicted language = argmax over stopword-hit counts (distinct
    token ∩ stopword list), ties broken by list order en>de>fr>es,
    zero hits -> 'und' (undetermined)."""
    toks = F.array_distinct(_tokens("text"))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in STOPWORDS:  # insertion order = tie-break order
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        pred.alias("pred_lang"),
        best.cast("int").alias("stopword_hits"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / mean-word-length heuristics,
    combined into a 0-1 score. All regex counts use portable patterns
    (identical semantics in Spark's Java regex and DuckDB's RE2)."""
    n_chars = F.length("text").cast("double")
    n_punct = F.regexp_count("text", F.lit(r"[.,;:!?]")).cast("double")
    toks = _tokens("text")
    n_tokens = F.size(toks).cast("double")
    mean_word = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 12), 1.0).otherwise(0.5)
    punct_score = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.5)
    score = F.round((len_score + word_score + punct_score) / 3.0, 6)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(len_score, 6).alias("len_score"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
    )


def gopher_quality(documents: DataFrame) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, public) as
    one codegen-only pass — the richer complement to quality_score for
    pretraining-corpus curation. Per doc: word count, mean word
    length, symbol-to-word ratio (# and ... occurrences), bullet-line
    and ellipsis-line fractions, alphabetic-word fraction, distinct
    English stopword count, and the conjunctive `gopher_pass` flag
    (50 <= words <= 100k, 3 <= mean_word_len <= 10, symbol_ratio
    < 0.1, bullet < 0.9, ellipsis < 0.3, alpha >= 0.8, stopwords
    >= 2). No shuffle, no UDF; all regexes RE2/Java-portable."""
    toks = _tokens("text")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_word_len = F.when(
        n_words > 0, sum_len.cast("double") / n_words).otherwise(0.0)
    n_sym = F.regexp_count("text", F.lit(r"#|\.\.\."))
    symbol_ratio = F.when(
        n_words > 0, n_sym.cast("double") / n_words).otherwise(0.0)
    lines = F.split("text", "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines,
        lambda l: l.startswith("- ") | l.startswith("* ")))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_ratio = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines).otherwise(0.0)
    ellipsis_ratio = F.when(
        n_lines > 0, n_ellipsis.cast("double") / n_lines).otherwise(0.0)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.when(
        n_words > 0, n_alpha.cast("double") / n_words).otherwise(0.0)
    n_stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    gopher_pass = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_word_len >= 3) & (mean_word_len <= 10)
        & (symbol_ratio < 0.1)
        & (bullet_ratio < 0.9) & (ellipsis_ratio < 0.3)
        & (alpha_ratio >= 0.8) & (n_stop >= 2)
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
        gopher_pass.cast("int").alias("gopher_pass"),
    )


def c4_clean(documents: DataFrame) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020, public)
    as one codegen-only pass: keep lines that end in terminal
    punctuation (./!/?/quote), have >= 5 words and do not mention
    javascript; flag pages containing 'lorem ipsum' or '{'; count
    sentences in the kept text; c4_keep = clean page with >= 5
    sentences. Emits the cleaned text alongside the signals so the
    pass is the actual production transform, not just a filter."""
    lines = F.split("text", "\n")
    kept = F.filter(
        lines,
        lambda l: (
            F.trim(l).rlike("[.!?\"']$")
            & (F.size(F.filter(F.split(l, " +"),
                               lambda w: w != F.lit(""))) >= 5)
            & ~F.lower(l).contains("javascript")
        ),
    )
    clean_text = F.array_join(kept, "\n")
    lorem = F.lower("text").contains("lorem ipsum")
    brace = F.col("text").contains("{")
    n_sentences = F.regexp_count(clean_text, F.lit(r"[.!?]"))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        n_sentences.alias("n_sentences"),
        lorem.cast("int").alias("has_lorem"),
        brace.cast("int").alias("has_brace"),
        (~lorem & ~brace & (n_sentences >= 5)).cast("int")
            .alias("c4_keep"),
        clean_text.alias("clean_text"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex count (word pieces, numbers,
    punctuation as singles) + char count."""
    ws = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    )
    bpe = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ws.cast("int").alias("ws_tokens"),
        bpe.cast("int").alias("bpe_tokens"),
        F.length("text").cast("int").alias("chars"),
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Normalised-content fingerprint: md5 of whitespace-collapsed
    lowercase text, plus a coarse 4-hex prefix bucket for sharding."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fp = F.md5(norm.cast("binary"))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard"),
    )


def repetition_ratio(documents: DataFrame) -> DataFrame:
    """Within-document token repetition (1 - distinct/total): the
    boilerplate/spam signal every curation pipeline filters on. Pure
    codegen expressions, no shuffle."""
    toks = _tokens("text")
    n = F.size(toks).cast("double")
    nd = F.size(F.array_distinct(toks)).cast("double")
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.when(n > 0, F.round(1.0 - nd / n, 6)).otherwise(0.0).alias(
            "repetition"
        ),
    )


def duplicate_ngrams(documents: DataFrame, n: int = 5, min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated n-grams — the contamination /
    memorization check: every consecutive n-token window, hashed, with
    the count of distinct documents containing it and total
    occurrences; only windows seen in >= min_docs documents survive.

    Scale shape: the window fan-out is map-side (transform over a
    sequence — no explode until after the per-row array is built), the
    single shuffle groups on the md5 gram hash (uniform key), and
    Catalyst partial-aggregates the per-partition counts first."""
    # the token array MUST be a materialized attribute: a lambda that
    # captures the tokenization EXPRESSION re-evaluates it per window
    # element after CollapseProject inlining — O(windows * len) per
    # doc (measured 242 s vs 0.7 s at 10k tokens)
    toksed = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _tokens("text").alias("toks"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - n),
        lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
    )
    exploded = toksed.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") >= n, grams).otherwise(F.array())
        ).alias("gram"),
    )
    return (
        exploded.groupBy(F.md5(F.col("gram").cast("binary")).alias("gram_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def chunk_documents(
    documents: DataFrame, chunk_chars: int = 500, overlap: int = 100
) -> DataFrame:
    """Training-window chunker: overlapping character windows (the
    char-budget analog of token-budget context packing). Chunk k covers
    [k*stride, k*stride + chunk_chars), stride = chunk_chars - overlap;
    every doc yields >= 1 chunk. Pure sequence+explode+substring —
    map-side only, no shuffle, scales linearly with corpus bytes."""
    assert 0 <= overlap < chunk_chars
    stride = chunk_chars - overlap
    # windows slice a per-char ARRAY built once per doc, then explode:
    # the previous shape exploded chunk indices FIRST and ran
    # substring(text, k*stride+1, ...) per chunk ROW — replicating the
    # full text into every row AND paying UTF8String's O(offset) char
    # seek per chunk = O(len^2/stride) on long docs (same class of
    # quadratic as the round-5 substring-dedup fixes)
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("cs") / F.lit(stride))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.array_join(
            F.slice("cs", k * stride + 1, F.lit(chunk_chars)), ""
        ),
    )
    return (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split("text", "").alias("cs"),
        )
        .select(
            "doc_id",
            F.size("cs").alias("_len"),
            F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.greatest(
                F.lit(1), F.ceil(F.col("_len") / F.lit(stride))
            ).cast("int").alias("n_chunks"),
            "chunk_text",
        )
    )


# PII patterns: restricted to syntax RE2 (DuckDB) and Java regex (Spark)
# interpret identically — no backrefs, no lookaround
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_LONGNUM = r"[0-9]{9,}"
# RE2-portable (no lookaround/backrefs), so the DuckDB oracle and any
# Flink/Trino port run the SAME patterns
_PII_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
_PII_PHONE = r"\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Training-corpus PII pass: emails -> <EMAIL>, SSN-shaped
    ddd-dd-dddd -> <SSN>, separator-delimited phone shapes -> <PHONE>,
    9+-digit runs (account/card shapes) -> <NUM>; counts carried for
    audit. Replacement order (email, SSN, phone, longnum) ensures no
    class consumes another's match. Column expressions only (JVM regex,
    whole-stage codegen)."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
                _PII_SSN,
                "<SSN>",
            ),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_LONGNUM,
        "<NUM>",
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_SSN)).cast("int").alias("n_ssns"),
        F.regexp_count("text", F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count("text", F.lit(_PII_LONGNUM)).cast("int").alias("n_longnums"),
        scrubbed.alias("clean_text"),
    )


HTML_MAIN_SCHEMA = "doc_id string, title string, main_text string"


def extract_html_main(pages: DataFrame) -> DataFrame:
    """(doc_id, html) -> (doc_id, title, main_text): boilerplate strip
    via the DOM-walk heuristics in kernels/html.py. Poison inputs
    quarantine to NULLs (same discipline as PDF extraction)."""

    def row(doc_id, html_text):
        from ..kernels.html import extract_main_html

        try:
            res = extract_main_html(html_text or "")
        except Exception:
            return [(doc_id, None, None)]
        return [(doc_id, res["title"], res["main_text"])]

    return map_kernel(pages, [doc_id_str(), "html"], row, HTML_MAIN_SCHEMA)


WEB_FEATURES_SCHEMA = (
    "doc_id string, lang string, title string, canonical string, "
    "description string, robots string, og_title string, "
    "charset string, "
    "links array<struct<href:string,anchor:string,nofollow:int,"
    "boiler:int>>, "
    "headings array<struct<level:int,text:string,boiler:int>>, "
    "tables array<struct<n_rows:int,n_cols:int,cells:string>>, "
    "sections array<struct<heading:string,level:int,text:string>>, "
    "error string"
)


def extract_web_features(pages: DataFrame) -> DataFrame:
    """(doc_id, html) -> one row per doc with the full DOM feature
    set: page metadata scalars (lang/title/canonical/description/
    robots/og:title/charset), outlinks, the heading outline, and
    table shapes (kernels/html.parse_webpage, one DOM pass). Poison
    inputs quarantine via the error column — never raises, never
    drops rows (the extract_doc discipline).

    Scale shape: ONE Python pass, no shuffle; downstream
    link/heading/table queries explode map-side. At 10^12 docs this
    is the crawl-graph feeder (outlinks -> anchor-text corpus +
    URL frontier), so everything stays in the one Arrow batch walk."""

    def row(doc_id, html_text):
        from ..kernels.html import parse_webpage

        res = parse_webpage(html_text or "")
        return [(
            doc_id,
            *(res[k] for k in ("lang", "title", "canonical", "description",
                               "robots", "og_title", "charset")),
            [(l["href"], l["anchor"], l["nofollow"], l["boiler"])
             for l in res["links"]],
            [(h["level"], h["text"], h["boiler"]) for h in res["headings"]],
            [(t["n_rows"], t["n_cols"], t["cells"]) for t in res["tables"]],
            [(x["heading"], x["level"], x["text"]) for x in res["sections"]],
            None,
        )]

    return map_kernel(pages, [doc_id_str(), "html"], row, WEB_FEATURES_SCHEMA)


WEB_DOC_SCHEMA = (
    "doc_id string, title string, main_text string, lang string, "
    "canonical string, description string, robots string, "
    "og_title string, charset string, "
    "links array<struct<href:string,anchor:string,nofollow:int,"
    "boiler:int>>, "
    "headings array<struct<level:int,text:string,boiler:int>>, "
    "tables array<struct<n_rows:int,n_cols:int,cells:string>>, "
    "n_bytes long, error string"
)


def extract_web_docs(pages: DataFrame) -> DataFrame:
    """The production HTML lane (jobs/web_job.py): main-content strip
    AND the full DOM feature set in ONE Python pass over the
    corpus — per doc: title + boilerplate-stripped main_text
    (extract_main_html), metadata scalars, outlinks, heading outline,
    table shapes (parse_webpage), plus n_bytes (utf-8 size of the raw
    page — the checkpoint manifest's lineage/throughput column) and
    the error quarantine column (never raises, never drops).

    Scale shape: one corpus read, no shuffle; the checkpoint layer
    slices by doc_id hash and records per-partition lineage."""

    def row(doc_id, html_text):
        from ..kernels.html import parse_web_doc

        raw = html_text or ""
        n_bytes = len(raw.encode("utf-8"))
        try:
            # one tokenization feeds both parsers (round 9)
            main, feats = parse_web_doc(raw)
        except Exception as exc:  # the row keeps n_bytes
            return [(doc_id, *[None] * 11, n_bytes, quarantine_message(exc))]
        return [(
            doc_id, feats["title"], main["main_text"],
            *(feats[k] for k in ("lang", "canonical", "description",
                                 "robots", "og_title", "charset")),
            [(l["href"], l["anchor"], l["nofollow"], l["boiler"])
             for l in feats["links"]],
            [(h["level"], h["text"], h["boiler"]) for h in feats["headings"]],
            [(t["n_rows"], t["n_cols"], t["cells"]) for t in feats["tables"]],
            n_bytes,
            None,
        )]

    return map_kernel(pages, [doc_id_str(), "html"], row, WEB_DOC_SCHEMA)


def extract_robots_rules(robots: DataFrame,
                         agent: str = "sparkbot",
                         probe_paths: "tuple[str, ...]" = (
                             "/sec1/page", "/tmp/x")) -> DataFrame:
    """Per-doc robots.txt gate (kernels/robots.py, RFC 9309): parse
    each robots(doc_id, robots_txt) file and emit the crawl-policy
    signals a frontier needs — crawl delay, sitemap count, and the
    allow/deny decision for each probe path under `agent` plus the
    '*'-group decision an unknown agent would get. One Python
    pass, no shuffle; at crawl scale this joins (broadcast) against
    the per-host frontier."""
    probe_cols = [f"allowed_{i}" for i in range(len(probe_paths))]
    schema = ("doc_id long, crawl_delay double, n_sitemaps int, "
              + ", ".join(f"{c} int" for c in probe_cols)
              + ", other_agent_tmp int")

    def row(d, text):
        from ..kernels.robots import crawl_delay, is_allowed, parse_robots

        r = parse_robots(text or "")
        return [(d, crawl_delay(r, agent), len(r["sitemaps"]),
                 *(int(is_allowed(r, agent, p)) for p in probe_paths),
                 int(is_allowed(r, "otherbot", "/tmp/x")))]

    return map_kernel(robots, [F.col("doc_id").cast("long").alias("doc_id"),
                               "robots_txt"], row, schema)


def extract_sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Per-doc sitemap parse (kernels/sitemap.py) of each
    sitemaps(doc_id, sitemap_xml) file: one row per <url>/<sitemap>
    entry with the container kind — the crawl frontier's seed stream.
    One Python pass, entry explode Python-side (entries per sitemap
    are tiny); no shuffle."""
    schema = ("doc_id long, entry_idx int, kind string, loc string, "
              "lastmod string, priority string")

    def row(d, text):
        from ..kernels.sitemap import parse_sitemap

        r = parse_sitemap(text)
        return [(d, i, r["kind"], e.get("loc"), e.get("lastmod"),
                 e.get("priority")) for i, e in enumerate(r["entries"])]

    return map_kernel(sitemaps, [F.col("doc_id").cast("long").alias("doc_id"),
                                 "sitemap_xml"], row, schema)


def canonical_url(col) -> "F.Column":
    """URL canonicalization as a pure JVM-side expression (the crawl
    frontier/dedup key — RFC 3986 §6 normalizations that preserve
    semantics): lowercase scheme and host, strip default ports
    (:80 http / :443 https), drop the fragment, resolve '.'/'..' path
    segments with an array fold, empty path -> '/'. The query string
    survives untouched; non-default ports survive. No UDF — the dot
    -segment resolution is an F.aggregate fold over the split path,
    whole-stage-codegen friendly at 10^12 URLs."""
    url = F.regexp_replace(col, r"#.*$", "")  # fragment never matters
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:]+://([^/?]*)", 1))
    host = F.when(
        ((scheme == "http") & hostport.endswith(":80"))
        | ((scheme == "https") & hostport.endswith(":443")),
        F.regexp_replace(hostport, r":\d+$", ""),
    ).otherwise(hostport)
    rest = F.regexp_extract(url, r"^[^:]+://[^/?]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"(\?.*)?$", 1)
    segs = F.split(path, "/")
    resolved = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(
                s == "..",
                F.when(F.size(acc) > 0,
                       F.slice(acc, 1, F.size(acc) - 1)).otherwise(acc),
            )
            .when(s == "", acc)  # leading + duplicate slashes collapse
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    norm_path = F.concat(F.lit("/"), F.array_join(resolved, "/"))
    return F.when(
        scheme == "", col  # relative/unparseable: untouched
    ).otherwise(F.concat(scheme, F.lit("://"), host, norm_path, query))


def link_host_degree(features: DataFrame) -> DataFrame:
    """Host-level link-graph degree from extracted outlinks: explode
    each doc's links map-side, pull the host out of absolute hrefs
    with a JVM-side regexp (relative links have no host and drop),
    and aggregate per host: total in-links, nofollow in-links, and
    the number of DISTINCT linking documents.

    Scale shape (the classic crawl-graph stat at 10^12 docs): the
    explode and host extraction are map-side; counts partial-aggregate
    before the ONE host-keyed exchange, so a head host (a google.com)
    arrives pre-combined per map task rather than as raw link rows —
    the count_distinct runs as Spark's standard 2-phase partial
    distinct. No content ever shuffles; the exchange carries
    (host, counts, doc_id) tuples only."""
    links = features.filter(F.col("error").isNull()).select(
        F.col("doc_id"),
        F.explode("links").alias("l"),
    ).select(
        "doc_id",
        F.regexp_extract(F.col("l.href"), r"^https?://([^/]+)", 1)
            .alias("host"),
        F.col("l.nofollow").alias("nofollow"),
    ).filter(F.col("host") != "")
    return links.groupBy("host").agg(
        F.count("*").alias("n_links"),
        F.sum("nofollow").cast("long").alias("n_nofollow"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def benchmark_contamination(documents: DataFrame, benchmark: DataFrame,
                            n: int = 5) -> DataFrame:
    """Benchmark decontamination: per document, how many of its
    n-token windows appear in the BENCHMARK set (eval-set leakage —
    the targeted complement of the corpus-wide duplicate_ngrams
    check). benchmark is any (text) DataFrame.

    Scale shape (100 TB corpus, small benchmark): the benchmark gram
    set is tiny by construction — distinct + BROADCAST, so the corpus
    side never shuffles; window fan-out is map-side (transform over
    sequence) and the per-doc counts partial-aggregate before the one
    doc_id shuffle."""
    # token arrays are materialized ATTRIBUTES before the window
    # lambdas (same CollapseProject re-evaluation trap fixed in
    # duplicate_ngrams: an expression captured inside the lambda
    # re-tokenizes per window — O(windows * len))
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
        ),
    ).otherwise(F.array())
    bench_grams = (
        benchmark.select(_tokens("text").alias("toks"))
        .select(F.explode(grams).alias("gram"))
        .select(F.md5(F.col("gram").cast("binary")).alias("gram_hash"))
        .distinct()
    )
    doc_grams = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _tokens("text").alias("toks"),
    ).select(
        "doc_id",
        F.explode(grams).alias("gram"),
    ).select(
        "doc_id", F.md5(F.col("gram").cast("binary")).alias("gram_hash")
    )
    hits = doc_grams.join(
        F.broadcast(bench_grams), "gram_hash", "left_semi"
    )
    n_windows = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.greatest(
            F.size(_tokens("text")) - n + 1, F.lit(0)
        ).alias("n_windows"),
    )
    return (
        n_windows.join(
            hits.groupBy("doc_id").agg(F.count("*").alias("n_hits")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def token_rarity_score(documents: DataFrame,
                       head_budget: int = 1_000_000) -> DataFrame:
    """Corpus-frequency rarity score — the IDF-style quality-filtering
    primitive: per doc, the mean of -log10(count(token) / total_tokens)
    over its tokens (duplicates counted; higher = rarer vocabulary;
    boilerplate-heavy docs score low).

    Scale shape (100 TB) — the round-6 head/tail pruning: the raw
    occurrence stream NEVER reshuffles on token text. One partial-agg
    groupBy(doc_id, tok) collapses occurrences to per-doc term counts
    (skew-free key — doc_id is in it; map-side combine absorbs
    stopword repeats within a doc), and that single exchange is
    REUSED by all three consumers (vocabulary count, head branch,
    tail branch — plan-asserted), avoiding the branch-union rescan
    trap measured on the salting planner. The vocabulary HEAD (tokens
    with cnt > total/head_budget — at most head_budget entries, so
    the map is MBs at any corpus size) broadcasts with precomputed
    micro scores; only the rare-token TAIL of the term-count table
    joins on token text, and every tail token has cnt ≤
    total/head_budget, so that residual shuffle is skew-free and a
    small fraction of the occurrence volume. The corpus token total
    is a scalar planning aggregate (same class as plans/salting.py's
    stats row).

    Float discipline: each per-token -log10 is quantized to integer
    MICRO-units (round(x * 1e6) as BIGINT) before summation, so both
    engines aggregate identical integers in any order — a double AVG
    differs across engines by summation-order ulps and flips 6dp
    boundaries (observed); the final division of exact integers is
    deterministic. Head and tail compute micro from the SAME cnt and
    total, so the split cannot change a single score."""
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(_tokens("text")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n_occ"))
    freq = tf.groupBy("tok").agg(F.sum("n_occ").alias("cnt"))
    # corpus token total straight off the scan (sum of array sizes) —
    # NOT freq.agg(sum(cnt)): that would run the full tf+freq pipeline
    # a second time just for planning (measured: it doubled the
    # operator's shuffle volume)
    total = documents.agg(
        F.sum(F.size(_tokens("text")))
    ).collect()[0][0] or 1
    threshold = total // max(1, head_budget)
    micro = F.round(
        -F.log10(F.col("cnt") / F.lit(float(total))) * 1e6
    ).cast("long")
    scored = freq.select("tok", "cnt", micro.alias("micro"))
    head = scored.filter(F.col("cnt") > F.lit(threshold)).select(
        "tok", "micro"
    )
    tail = scored.filter(F.col("cnt") <= F.lit(threshold)).select(
        "tok", "micro"
    )
    # anti-join against the SAME broadcast relation as the head join
    # (identical BroadcastExchange -> built and shipped once)
    head_part = tf.join(F.broadcast(head), "tok")
    tail_part = tf.join(F.broadcast(head), "tok", "left_anti").join(
        tail, "tok"
    )
    cols = ["doc_id", "n_occ", "micro"]
    return (
        head_part.select(*cols)
        .unionByName(tail_part.select(*cols))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("micro") * F.col("n_occ"))
                / (F.sum("n_occ") * F.lit(1e6)),
                6,
            ).alias("rarity"),
            F.sum("n_occ").alias("n_tokens"),
        )
    )


def hash_split(documents: DataFrame, val_permille: int = 100,
               salt: str = "split") -> DataFrame:
    """Deterministic train/validation split — the reproducibility
    primitive for corpus snapshots: bucket = first 3 hex digits of
    md5(salt || doc_id) as an integer in [0, 4096); rows with
    bucket * 1000 < val_permille * 4096 go to 'val'. Pure JVM
    expression, no RNG: the assignment is stable across runs, engines,
    partitionings and corpus growth (a doc's split never changes when
    other docs are added — unlike sample()/randomSplit)."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"),
                                   F.col("doc_id").cast("string"))), 1, 3),
        16, 10,
    ).cast("int")
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        bucket.alias("bucket"),
        F.when(bucket * 1000 < val_permille * 4096, "val")
        .otherwise("train")
        .alias("split"),
    )


def stratified_sample(documents: DataFrame, strata_col,
                      rates: "dict[str, int]",
                      default_permille: int = 1000,
                      salt: str = "strata") -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-rebalancing
    primitive of a training-data pipeline (cap over-represented
    languages/domains, keep rare ones whole): each doc is kept iff its
    stable hash bucket falls under its stratum's permille rate.
    bucket = first 3 hex digits of md5(salt:doc_id) in [0, 4096) (the
    hash_split machinery), so membership is reproducible across runs,
    engines and partitionings, independent of corpus growth, and
    MONOTONE in the rate: raising a stratum's rate only ADDS docs
    (bucket membership never reshuffles — the property that makes
    incremental re-curation cheap at 100 TB).

    Scale shape: the rates map is a literal CASE expression
    (config-sized); the whole operator is scan-local — no shuffle, no
    RNG, no driver state.

    Output: doc_id, stratum, bucket, rate_permille, kept."""
    sc = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    rate = F.lit(int(default_permille))
    for k, v in sorted(rates.items(), reverse=True):
        rate = F.when(sc == F.lit(k), F.lit(int(v))).otherwise(rate)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"),
                                   F.col("doc_id").cast("string"))), 1, 3),
        16, 10,
    ).cast("int")
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        sc.alias("stratum"),
        bucket.alias("bucket"),
        rate.cast("int").alias("rate_permille"),
        (bucket * 1000 < rate * 4096).alias("kept"),
    )


# shape='auto' broadcast comfort budget: the scored-bigram dimension
# must fit WELL under Spark's 10 MB default autoBroadcastJoinThreshold
# before the flat occ_join shape is chosen (~48 B/entry: two short
# tokens + counts + row overhead). Below it the r5 flat shape wins
# locally (measured 71 s vs 101 s, half the shuffle bytes —
# BENCH/BASELINE.md r6); above it the head/tail shape is the at-scale
# insurance a billion-bigram vocabulary requires.
BIGRAM_BROADCAST_COMFORT_BYTES = 8 << 20
_BIGRAM_ENTRY_BYTES = 48


def _bigram_shape_decision(n_distinct_bigrams: int) -> str:
    """'occ_join' when the whole scored vocabulary broadcasts
    comfortably, else 'head_tail'. Pure planning rule, unit-tested."""
    est = n_distinct_bigrams * _BIGRAM_ENTRY_BYTES
    return "occ_join" if est <= BIGRAM_BROADCAST_COMFORT_BYTES \
        else "head_tail"


def bigram_surprisal(documents: DataFrame,
                     head_budget: int = 1_000_000,
                     shape: str = "auto") -> DataFrame:
    """Corpus-estimated bigram surprisal — the KenLM-style fluency
    filter approximation: per doc, the mean of
    -log10( count(w_{i-1} w_i) / count(w_{i-1}) ) over its bigrams
    (conditional MLE, no smoothing: every corpus bigram has seen its
    prefix). Word-salad / shuffled text scores high, fluent or
    templated text low — complementary to token_rarity's unigram view.

    Scale shape — the round-6 head/tail pruning (same design as
    token_rarity_score): the bigram occurrence stream NEVER reshuffles
    on content. Bigram enumeration slices a materialized token-array
    ATTRIBUTE (the round-5 lambda-capture rule); one partial-agg
    groupBy(doc_id, w1, w2) collapses occurrences to per-doc bigram
    counts (skew-free key; its exchange is REUSED by the frequency
    tables and both branches). Bigram and prefix counts derive from
    that table (hot bigrams combine map-side; conditionals sum to 1
    per prefix because c1 sums c2 over the SAME population). The
    bigram HEAD (c2 > total/head_budget ⇒ ≤ head_budget entries)
    broadcasts with precomputed micro scores; only rare bigrams join
    on content, each with c2 bounded by the threshold — skew-free.
    The scored-vocabulary build joins dimension tables only
    (distinct bigrams × distinct prefixes, AQE-skew-splittable),
    never occurrences. Per-bigram surprisal quantizes to integer
    micro-units before summation (the engine-portable float
    discipline from token_rarity); head and tail compute micro from
    the same counts, so the split cannot change a score.

    `shape` (round 7, r6 verdict item 6): the measured local cost of
    the head/tail insurance (1.4x wall, 2x shuffle bytes vs the flat
    r5 shape — BENCH/BASELINE.md) is now a DECISION, not a default:
    'auto' counts distinct bigrams in the same single scan-side pass
    that takes the corpus total (partial-agg HLL, no extra stage) and
    picks 'occ_join' — tf joining the scored vocabulary directly,
    which AQE broadcasts at this size — when the vocabulary fits
    comfortably under the broadcast threshold
    (_bigram_shape_decision), 'head_tail' otherwise. Both shapes
    compute micro from the same counts, so they are hash-identical by
    construction (asserted in bench_extra.py token_shuffle).

    Output: doc_id, surprisal (6dp), n_bigrams."""
    if shape not in ("auto", "head_tail", "occ_join"):
        raise ValueError(f"unknown shape {shape!r}")
    toksed = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _tokens("text").alias("toks"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at("toks", i + 1).alias("w1"),
            F.element_at("toks", i + 2).alias("w2"),
        ),
    )
    pairs = toksed.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(bigrams).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").alias("n_occ")
    )
    big_freq = tf.groupBy("w1", "w2").agg(F.sum("n_occ").alias("c2"))
    # prefix counts over the SAME bigram population (so the MLE
    # conditionals sum to 1 per prefix): sum of c2 by w1
    uni_freq = big_freq.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # planning scalars straight off the scan in ONE partial-agg pass
    # (see token_rarity: deriving them from big_freq would re-run the
    # whole tf pipeline): corpus bigram total + HLL distinct estimate
    # for the auto shape rule. pairs = scan + explode, no shuffle.
    stats = pairs.agg(
        F.count("*").alias("total"),
        F.approx_count_distinct(F.struct("w1", "w2")).alias("nbig"),
    ).collect()[0]
    total = int(stats.total or 1)
    if shape == "auto":
        shape = _bigram_shape_decision(int(stats.nbig or 0))
    threshold = total // max(1, head_budget)
    micro = F.round(
        -F.log10(F.col("c2") / F.col("c1")) * 1e6
    ).cast("long")
    scored = big_freq.join(uni_freq, "w1").select(
        "w1", "w2", "c2", micro.alias("micro")
    )
    cols = ["doc_id", "n_occ", "micro"]
    if shape == "occ_join":
        # flat r5 shape: the whole (comfortably small) vocabulary in
        # one join — AQE broadcasts it at this size
        occ = tf.join(scored.select("w1", "w2", "micro"), ["w1", "w2"])
        parts = occ.select(*cols)
    else:
        head = scored.filter(F.col("c2") > F.lit(threshold)).select(
            "w1", "w2", "micro"
        )
        tail = scored.filter(F.col("c2") <= F.lit(threshold)).select(
            "w1", "w2", "micro"
        )
        # anti-join against the SAME broadcast relation as the head
        # join (identical BroadcastExchange -> built and shipped once)
        head_part = tf.join(F.broadcast(head), ["w1", "w2"])
        tail_part = tf.join(F.broadcast(head), ["w1", "w2"],
                            "left_anti").join(tail, ["w1", "w2"])
        parts = head_part.select(*cols).unionByName(
            tail_part.select(*cols)
        )
    return (
        parts
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("micro") * F.col("n_occ"))
                / (F.sum("n_occ") * F.lit(1e6)),
                6,
            ).alias("surprisal"),
            F.sum("n_occ").alias("n_bigrams"),
        )
    )
