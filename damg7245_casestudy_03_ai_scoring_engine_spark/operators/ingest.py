"""Ingestion parse operators — the document/signal parsing layer of
the reference's collection pipelines (SURVEY.md §2.1 S5–S10):

- S5  HTML text extraction   (reference app/pipelines/document_parser.py:44-58)
- S7  10-K section splitter  (document_parser.py:9-14,100-135)
- S8  paragraph chunker      (document_parser.py:138-249)
- S9  RSS item parse         (app/pipelines/job_signals.py:62-78)

The container has no live fetch targets and the test corpus is plain
text, so each operator synthesizes its raw input (HTML wrapper, Item
anchors, RSS XML) DETERMINISTICALLY from the `documents` table inside
the query — both Spark and the DuckDB oracle build the identical raw
string and then exercise the real parsing semantics on it.  At
production scale the same expressions run over `binaryFile`-scanned
filings / fetched RSS bodies; only the input column changes.

Spark shape: everything is native regexp/array expressions inside
whole-stage codegen — no joins, no shuffle except the terminal
explode-free aggregations.  The one deliberate exception is the
greedy paragraph chunker, whose stateful accumulate-and-overlap loop
is not expressible relationally: it runs as `mapInPandas` (Arrow
batches, reference semantics scaled to the synthetic corpus) and is
covered by rows-only checks plus pytest goldens.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.core import round_stable_sql, topk_ranked
from ..sources.catalog import load
from .registry import register

# --- S5: HTML text extraction ----------------------------------------------

# Deterministic HTML wrapper (stand-in for a fetched filing page).
_HTML_SPARK = (
    "concat('<html><head><title>doc</title><script>var x = 1;</script>"
    "<style>p {{margin: 0}}</style></head><body><h1>', source, "
    "'</h1><p>', text, '</p><br/><div>footer &amp; legal</div></body></html>')"
)
_HTML_SQL = (
    "'<html><head><title>doc</title><script>var x = 1;</script>"
    "<style>p {margin: 0}</style></head><body><h1>' || source || "
    "'</h1><p>' || text || '</p><br/><div>footer &amp; legal</div></body></html>'"
)


@register(
    "html_text_extract",
    survey="S5,F2",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_HTML_SQL} AS html FROM documents
),
stripped AS (
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'),
                       '(?s)<style.*?</style>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean_text
    FROM raw
)
SELECT doc_id, clean_text, length(clean_text) AS n_chars
FROM stripped
""",
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: strip script/style blocks, drop tags, collapse whitespace —
    the reference's BeautifulSoup get_text() semantics (reference
    document_parser.py:44-58) as a pure regexp_replace chain: stays in
    codegen, no Python, trivially scales to a binaryFile scan of
    millions of filings."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    html = F.expr(_HTML_SPARK.format())
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(html, r"(?s)<script.*?</script>", " "),
                    r"(?s)<style.*?</style>",
                    " ",
                ),
                r"<[^>]+>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("n_chars"),
    )


# --- S7: 10-K section splitter ---------------------------------------------

# Synthesized filing: three Item anchors with document-text segments
# between them (segments may be empty/short for short docs → exercises
# the min-length drop).
_FILING_SPARK = (
    "concat('PART I ', 'Item 1. ', substring(text, 1, 60), "
    "' Item 1A. ', substring(text, 61, 60), "
    "' Item 7. ', substring(text, 121, 60), ' SIGNATURES')"
)
_FILING_SQL = (
    "'PART I ' || 'Item 1. ' || substr(text, 1, 60) || "
    "' Item 1A. ' || substr(text, 61, 60) || "
    "' Item 7. ' || substr(text, 121, 60) || ' SIGNATURES'"
)

_SECTIONS = (
    ("item_1", r"Item 1\. (.*?) Item 1A\."),
    ("item_1a", r"Item 1A\. (.*?) Item 7\."),
    ("item_7", r"Item 7\. (.*?) SIGNATURES"),
)
_MIN_SECTION_CHARS = 20  # reference drops <1000-char sections; scaled
_SECTION_CAP = 100  # reference caps 80k chars; scaled


@register(
    "section_split_10k",
    survey="S7,F2",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_FILING_SQL} AS filing FROM documents
),
sec AS (
    SELECT doc_id, 'item_1' AS section,
           substr(trim(regexp_extract(filing, 'Item 1\. (.*?) Item 1A\.', 1)), 1, {_SECTION_CAP}) AS content
    FROM raw
    UNION ALL
    SELECT doc_id, 'item_1a',
           substr(trim(regexp_extract(filing, 'Item 1A\. (.*?) Item 7\.', 1)), 1, {_SECTION_CAP})
    FROM raw
    UNION ALL
    SELECT doc_id, 'item_7',
           substr(trim(regexp_extract(filing, 'Item 7\. (.*?) SIGNATURES', 1)), 1, {_SECTION_CAP})
    FROM raw
)
SELECT doc_id, section, content, length(content) AS n_chars
FROM sec
WHERE length(content) >= {_MIN_SECTION_CHARS}
""",
)
def section_split_10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: regex-anchored Item 1 / 1A / 7 section extraction with
    min-length drop and char cap (reference document_parser.py:100-135
    — scaled thresholds).  One row per surviving (doc, section);
    native regexp_extract so the splitter runs columnar over any
    number of filings."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    filing = F.expr(_FILING_SPARK)
    secs = F.array(
        *[
            F.struct(
                F.lit(name).alias("section"),
                F.substring(
                    F.trim(F.regexp_extract(filing, pat, 1)), 1, _SECTION_CAP
                ).alias("content"),
            )
            for name, pat in _SECTIONS
        ]
    )
    return (
        d.select("doc_id", F.explode(secs).alias("s"))
        .select("doc_id", "s.section", "s.content")
        .withColumn("n_chars", F.length("content"))
        .filter(F.col("n_chars") >= _MIN_SECTION_CHARS)
    )


# --- S8 (scale path): token-window chunker ---------------------------------

_CHUNK_TOKENS = 40
_CHUNK_STRIDE = 32  # 8-token overlap between consecutive chunks


@register(
    "token_window_chunks",
    survey="S8,F15",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
st AS (
    SELECT doc_id, ws,
           unnest(range(0, ((len(ws) - 1) // {_CHUNK_STRIDE}) + 1)) AS ci
    FROM toks
)
SELECT doc_id,
       CAST(ci AS INT) AS chunk_index,
       array_to_string(ws[ci*{_CHUNK_STRIDE}+1 : ci*{_CHUNK_STRIDE} + least({_CHUNK_TOKENS}, len(ws) - ci*{_CHUNK_STRIDE})], ' ') AS content,
       least({_CHUNK_TOKENS}, len(ws) - ci*{_CHUNK_STRIDE}) AS word_count
FROM st
""",
)
def token_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 scale path: fixed token windows (40 tokens, stride 32 → 8
    overlap) — the relational form of the reference's chunker that
    survives 100 TB: pure array expressions + one explode, no state,
    no Python, and chunk boundaries are reproducible on re-run
    (deterministic ids per SURVEY §7)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(ws)
    chunks = F.transform(
        F.sequence(F.lit(0), ((n - 1) / _CHUNK_STRIDE).cast("int")),
        lambda ci: F.struct(
            ci.cast("int").alias("chunk_index"),
            F.concat_ws(
                " ",
                F.slice(
                    ws,
                    ci * _CHUNK_STRIDE + 1,
                    F.least(F.lit(_CHUNK_TOKENS), n - ci * _CHUNK_STRIDE),
                ),
            ).alias("content"),
            F.least(F.lit(_CHUNK_TOKENS), n - ci * _CHUNK_STRIDE).alias("word_count"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_index", "c.content", "c.word_count")
    )


# --- S8 (parity path): greedy paragraph chunker (mapInPandas) --------------

# Reference document_parser.py:147-153 parameters scaled to the
# ~300-char synthetic docs: paragraphs are 12-token groups, packed
# greedily to a 150-char target (hard cap 220), 1-paragraph overlap.
_PARA_TOKENS = 12
_PACK_TARGET = 150
_PACK_MAX = 220
_PACK_OVERLAP = 1

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
    ]
)


def greedy_pack_paragraphs(text: str) -> list[str]:
    """Pure-Python mirror of the reference's greedy packer
    (document_parser.py:138-249, scaled): split into paragraphs,
    accumulate while the packed length stays under target, emit, then
    start the next chunk with the last `overlap` paragraphs.  Shared
    by the Spark mapInPandas kernel and the pytest golden."""
    toks = text.split()
    paras = [
        " ".join(toks[i : i + _PARA_TOKENS])
        for i in range(0, len(toks), _PARA_TOKENS)
    ]
    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for p in paras:
        added = cur_len + (1 if cur else 0) + len(p)
        if cur and (added > _PACK_MAX or cur_len >= _PACK_TARGET):
            chunks.append(" ".join(cur))
            cur = cur[-_PACK_OVERLAP:]
            cur_len = sum(len(c) for c in cur) + max(0, len(cur) - 1)
        cur.append(p)
        cur_len = sum(len(c) for c in cur) + len(cur) - 1
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def paragraph_chunk_df(docs: DataFrame) -> DataFrame:
    """Greedy paragraph chunking as mapInPandas over (doc_id, text) —
    Arrow-batched, one pass, no shuffle; the per-doc loop state is why
    this is the one parsing op that is not a column expression."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "chunk_index": [],
                "content": [],
                "word_count": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for i, chunk in enumerate(greedy_pack_paragraphs(text or "")):
                    out["doc_id"].append(doc_id)
                    out["chunk_index"].append(i)
                    out["content"].append(chunk)
                    out["word_count"].append(len(chunk.split()))
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=_CHUNK_SCHEMA)


@register(
    "paragraph_chunks",
    survey="S8 (stateful parity path; rows-only check)",
    oracle=None,  # greedy accumulate+overlap loop is not SQL-expressible
)
def paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 parity path: the reference's greedy paragraph packer with
    overlap (document_parser.py:138-249, scaled params) via
    mapInPandas.  Golden-tested in pytest against an independent
    reimplementation; the driver records a rows-only check."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return paragraph_chunk_df(d)


# --- S9/S10: RSS item parse ------------------------------------------------

_RSS_SPARK = (
    "concat('<item><title>', source, ' posting ', cast(doc_id as string), "
    "'</title><link>https://example.com/jobs/', cast(doc_id as string), "
    "'</link><pubDate>2024-01-', lpad(cast(doc_id % 28 + 1 as string), 2, '0'), "
    "'</pubDate></item>')"
)
_RSS_SQL = (
    "'<item><title>' || source || ' posting ' || CAST(doc_id AS VARCHAR) || "
    "'</title><link>https://example.com/jobs/' || CAST(doc_id AS VARCHAR) || "
    "'</link><pubDate>2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || "
    "'</pubDate></item>'"
)


@register(
    "rss_item_parse",
    survey="S9,S10,F7",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_RSS_SQL} AS xml FROM documents
)
SELECT doc_id,
       regexp_extract(xml, '<title>([^<]*)</title>', 1) AS title,
       regexp_extract(xml, '<link>([^<]*)</link>', 1) AS link,
       CAST(regexp_extract(xml, '<pubDate>([^<]*)</pubDate>', 1) AS DATE) AS pub_date
FROM raw
""",
)
def rss_item_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10: RSS `<item>` field extraction (reference
    job_signals.py:62-78 ElementTree loop) as native `xpath_string`
    calls — JVM-side XML parsing, no Python, one row per item.  The
    pubDate string is parsed to a date (tolerant-parse family F7)."""
    d = load(spark, sf_dir, "documents", fan_out=True).withColumn(
        "xml", F.expr(_RSS_SPARK)
    )
    return d.select(
        "doc_id",
        F.expr("xpath_string(xml, 'item/title')").alias("title"),
        F.expr("xpath_string(xml, 'item/link')").alias("link"),
        F.to_date(F.expr("xpath_string(xml, 'item/pubDate')")).alias("pub_date"),
    )


# --- S1/S2: EDGAR submissions scan (parallel arrays → rows) ----------------

_WANTED_FORMS = ("10-K", "8-K")
_PER_FORM = 2


@register(
    "submissions_scan",
    survey="S1,S2,O4,F15",
    oracle=f"""
WITH filings AS (
    SELECT source,
           doc_id,
           CASE doc_id % 4 WHEN 0 THEN '10-K' WHEN 1 THEN '10-Q'
                           WHEN 2 THEN '8-K' ELSE 'DEF 14A' END AS form,
           DATE '2020-01-01' + INTERVAL (doc_id % 365) DAY AS filing_date
    FROM documents
),
ranked AS (
    SELECT source, form, doc_id, CAST(filing_date AS DATE) AS filing_date,
           row_number() OVER (
               PARTITION BY source, form
               ORDER BY filing_date DESC, doc_id DESC
           ) AS rk
    FROM filings
    WHERE form IN {_WANTED_FORMS!r}
)
SELECT source, form, doc_id, filing_date, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_PER_FORM}
""",
)
def submissions_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the EDGAR submissions shape — per company, parallel arrays
    form[]/date[]/id[] zipped into rows, filtered to wanted forms,
    top-N per form (reference sec_edgar.py:81-127).  The Spark side
    deliberately replays the parallel-array plumbing (collect sorted
    structs → parallel arrays → arrays_zip → explode) before the
    window top-N, because that's the shape real submissions JSON
    arrives in; the oracle checks the end semantics relationally."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    form = (
        F.when(F.col("doc_id") % 4 == 0, "10-K")
        .when(F.col("doc_id") % 4 == 1, "10-Q")
        .when(F.col("doc_id") % 4 == 2, "8-K")
        .otherwise("DEF 14A")
    )
    filing_date = F.date_add(
        F.lit("2020-01-01").cast("date"), (F.col("doc_id") % 365).cast("int")
    )
    per_company = (
        d.select("source", "doc_id", form.alias("form"), filing_date.alias("filing_date"))
        .groupBy("source")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "form", "filing_date"))
            ).alias("subs")
        )
        # the reference's parallel-array submission fields
        .select(
            "source",
            F.transform("subs", lambda s: s["form"]).alias("forms"),
            F.transform("subs", lambda s: s["filing_date"]).alias("dates"),
            F.transform("subs", lambda s: s["doc_id"]).alias("ids"),
        )
    )
    rows = (
        per_company.select(
            "source", F.explode(F.arrays_zip("forms", "dates", "ids")).alias("z")
        )
        .select(
            "source",
            F.col("z.forms").alias("form"),
            F.col("z.dates").alias("filing_date"),
            F.col("z.ids").alias("doc_id"),
        )
        .filter(F.col("form").isin(*_WANTED_FORMS))
    )
    return topk_ranked(
        rows,
        "PARTITION BY source, form ORDER BY filing_date DESC, doc_id DESC",
        _PER_FORM,
    ).select("source", "form", "doc_id", "filing_date", "rk")


# --- S11/S12/S13: job-board JSON normalization (tolerant mapping) ----------

# Synthesized posting JSON with key variance: a third of the rows use
# the alternate key names (postedAt / overallTitle), mirroring the
# reference's tolerant multi-key row parsing (_first_present,
# glassdoor_collector.py:507-512).
_POSTING_JSON_SPARK = (
    "concat('{\"', case when doc_id % 3 = 0 then 'postedAt' else 'published_at' end, "
    "'\":\"2024-01-', lpad(cast(doc_id % 28 + 1 as string), 2, '0'), "
    "'\",\"', case when doc_id % 3 = 0 then 'overallTitle' else 'title' end, "
    "'\":\"', source, ' engineer\",\"location\":{\"name\":\"city-', "
    "cast(doc_id % 5 as string), '\"}}')"
)
_POSTING_JSON_SQL = (
    "'{\"' || CASE WHEN doc_id % 3 = 0 THEN 'postedAt' ELSE 'published_at' END || "
    "'\":\"2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || "
    "'\",\"' || CASE WHEN doc_id % 3 = 0 THEN 'overallTitle' ELSE 'title' END || "
    "'\":\"' || source || ' engineer\",\"location\":{\"name\":\"city-' || "
    "CAST(doc_id % 5 AS VARCHAR) || '\"}}'"
)

_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("overallTitle", T.StringType()),
        T.StructField("published_at", T.StringType()),
        T.StructField("postedAt", T.StringType()),
        T.StructField(
            "location", T.StructType([T.StructField("name", T.StringType())])
        ),
    ]
)


@register(
    "job_board_normalize",
    survey="S11,S12,S13,P4,F8,F13",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_POSTING_JSON_SQL} AS payload FROM documents
),
norm AS (
    SELECT doc_id,
           coalesce(json_extract_string(payload, '$.title'),
                    json_extract_string(payload, '$.overallTitle')) AS title,
           coalesce(json_extract_string(payload, '$.published_at'),
                    json_extract_string(payload, '$.postedAt')) AS published_at,
           json_extract_string(payload, '$.location.name') AS location
    FROM raw
)
SELECT doc_id, title, CAST(published_at AS DATE) AS published_at, location
FROM norm
WHERE (NULL IS NULL OR location = NULL) OR location = 'city-1'
""",
)
def job_board_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S13: REST-JSON posting payloads parsed once with from_json
    and normalized via coalesce chains over the key variants — the
    columnar form of the reference's `_first_present` tolerant field
    mapping (glassdoor_collector.py:507-512) and Greenhouse/Lever
    normalization (external_signals.py:163-199).  The trailing
    optional filter replays the `(%s IS NULL OR col = %s)` pattern
    (P4) with a NULL parameter — Catalyst folds it away entirely."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    p = F.from_json(F.expr(_POSTING_JSON_SPARK), _POSTING_SCHEMA).alias("p")
    loc_param = F.lit(None).cast("string")  # unset optional filter (P4)
    return (
        d.select("doc_id", p)
        .select(
            "doc_id",
            F.coalesce(F.col("p.title"), F.col("p.overallTitle")).alias("title"),
            F.coalesce(F.col("p.published_at"), F.col("p.postedAt"))
            .cast("date")
            .alias("published_at"),
            F.col("p.location.name").alias("location"),
        )
        .filter(loc_param.isNull() | (F.col("location") == loc_param))
    )


# --- S6: PDF text extraction (gated — no pdf library in container) ---------


def make_simple_pdf(text: str, width: int = 80, compress: bool = True) -> bytes:
    """Deterministic minimal PDF writer (test-fixture generator for
    S6): greedy-wraps `text` into `width`-char lines, one `(line) Tj`
    text-show per line inside a BT/ET block, content stream
    FlateDecode-compressed (stdlib zlib), proper xref table.  The
    output is a valid single-page PDF readable by any conformant
    parser — it exists so the PDF branch can be exercised end-to-end
    in a container with no PDF library to hand."""
    import zlib

    words = text.split(" ")
    lines: list[str] = []
    cur = ""
    for w in words:
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur or not lines:
        lines.append(cur)

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    shows = "\n".join(f"({esc(ln)}) Tj 0 -14 Td" for ln in lines)
    content = f"BT /F1 12 Tf 72 720 Td 14 TL\n{shows}\nET".encode("latin-1")
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< " + filt + b"/Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


_PDF_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S)
_PDF_TJ_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)\s*Tj|\[(?:[^\]\\]|\\.)*\]\s*TJ")
_PDF_STR_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)")
_PDF_ESCAPES = {b"\\(": b"(", b"\\)": b")", b"\\\\": b"\\", b"\\n": b"\n", b"\\r": b"\r", b"\\t": b"\t"}


def pdf_extract_pages_pure(blob: bytes) -> list[str]:
    """Pure-Python extractor for the simple-PDF subset (uncompressed
    or FlateDecode content streams, literal-string `Tj`/`TJ` show
    operators): the dependency-free fallback for the reference's
    pdfplumber page loop (document_parser.py:61-77).  Returns one
    string per content stream (page), lines joined with newlines.
    Sufficient for machine-generated filings and the synthetic
    fixtures; scanned/CID-font PDFs need the real library."""
    import zlib

    pages: list[str] = []
    for m in _PDF_STREAM_RE.finditer(blob):
        head, body = m.group(1), m.group(2)
        if b"/FlateDecode" in head:
            try:
                # decompressobj, not decompress: the writer's trailing
                # "\nendstream" newline is inside the matched body, and
                # deflate data can itself END in 0x0a bytes — stripping
                # would corrupt it, while decompressobj just stops at
                # the deflate terminator and ignores trailing bytes.
                body = zlib.decompressobj().decompress(body)
            except zlib.error:
                continue
        if b"BT" not in body:
            continue  # non-text stream (image etc.)
        lines: list[str] = []
        for sm in _PDF_TJ_RE.finditer(body):
            for s in _PDF_STR_RE.finditer(sm.group(0)):
                raw = s.group(0)[1:-1]
                for k, v in _PDF_ESCAPES.items():
                    raw = raw.replace(k, v)
                lines.append(raw.decode("latin-1"))
        if lines:
            pages.append("\n".join(lines))
    return pages


def pdf_text_extract_udf():
    """S6: PDF page-loop extraction (reference document_parser.py:61-77)
    as a mapInPandas kernel over binaryFile content — (doc_id, content)
    in, (doc_id, page, text) rows out, same plumbing as html
    extraction.  Uses pdfplumber when installed; otherwise falls back
    to the pure-Python simple-PDF extractor above (the container has
    no PDF library)."""
    try:
        import pdfplumber  # noqa: F401

        have_pdfplumber = True
    except ImportError:
        have_pdfplumber = False

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if have_pdfplumber:
            import io

            import pdfplumber

        for pdf in batches:
            out = {"doc_id": [], "page": [], "text": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if have_pdfplumber:
                    with pdfplumber.open(io.BytesIO(blob)) as doc:
                        texts = [pg.extract_text() or "" for pg in doc.pages]
                else:
                    texts = pdf_extract_pages_pure(blob)
                for i, t in enumerate(texts):
                    out["doc_id"].append(doc_id)
                    out["page"].append(i)
                    out["text"].append(t)
            yield pd.DataFrame(out)

    return kernel


@register(
    "pdf_text_extract",
    survey="S6 (PDF branch, pure-Python fallback)",
    oracle=r"""
SELECT doc_id, text FROM documents
""",
)
def pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 end-to-end: render every document's text into a REAL
    single-page PDF (FlateDecode stream, valid xref) inside one
    mapInPandas stage, then run the S6 extraction kernel over the
    binary column and re-assemble the page text.  The roundtrip must
    reproduce `documents.text` byte-for-byte — which is exactly what
    the DuckDB oracle checks, making the PDF branch oracle-verified
    rather than rows-only.  Scale shape: two Arrow-batched narrow
    stages over (doc_id, binary) — no shuffle at all."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": [make_simple_pdf(t) for t in pdf["text"]],
                }
            )

    as_pdf = d.mapInPandas(encode, "doc_id bigint, content binary")
    pages = as_pdf.mapInPandas(
        pdf_text_extract_udf(), "doc_id bigint, page int, text string"
    )
    # single-page fixtures: unwrap the writer's line breaks back to the
    # original single-space text
    return pages.select(
        "doc_id", F.regexp_replace("text", r"\n", " ").alias("text")
    )


# --- S14: board proxy (DEF-14A) committee extraction ------------------------

_PROXY_SPARK = (
    "concat('Proxy Statement. The Audit Committee and the ', "
    "case when doc_id % 2 = 0 then 'Technology Committee' else 'Risk Committee' end, "
    "' reviewed matters. ', "
    "case when doc_id % 5 = 0 then 'The Compensation Committee also met. ' else '' end, "
    "text)"
)
_PROXY_SQL = (
    "'Proxy Statement. The Audit Committee and the ' || "
    "CASE WHEN doc_id % 2 = 0 THEN 'Technology Committee' ELSE 'Risk Committee' END || "
    "' reviewed matters. ' || "
    "CASE WHEN doc_id % 5 = 0 THEN 'The Compensation Committee also met. ' ELSE '' END || "
    "text"
)


@register(
    "board_proxy_extract",
    survey="S14,F2,F15",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, source AS company, {_PROXY_SQL} AS proxy FROM documents
),
hits AS (
    SELECT company,
           unnest(regexp_extract_all(proxy, '([A-Z][a-z]+ Committee)', 1)) AS committee
    FROM raw
)
SELECT company, committee, count(*) AS n_mentions
FROM hits
GROUP BY company, committee
""",
)
def board_proxy_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: DEF-14A committee extraction (reference
    board_analyzer.py:131-163 — strip HTML then regex committees and
    name candidates) as regexp_extract_all + explode over the proxy
    text column, rolled up per (company, committee)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    proxy = F.expr(_PROXY_SPARK)
    return (
        d.select(
            F.col("source").alias("company"),
            F.explode(
                F.regexp_extract_all(proxy, F.lit(r"([A-Z][a-z]+ Committee)"), 1)
            ).alias("committee"),
        )
        .groupBy("company", "committee")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


# --- F7: tolerant multi-format datetime parsing ----------------------------

# Three coexisting raw formats, varying per row — the reference's
# RFC-2822 → ISO → strptime fallback chain (job_signals.py:39-49,
# glassdoor_collector.py:560-591).
_RAW_TS_SPARK = (
    "case cast(doc_id % 3 as int) "
    "when 0 then concat('2024-01-', lpad(cast(doc_id % 28 + 1 as string), 2, '0'), ' 10:30:05') "
    "when 1 then concat(lpad(cast(doc_id % 28 + 1 as string), 2, '0'), '/02/2024') "
    "else concat('2024-03-', lpad(cast(doc_id % 28 + 1 as string), 2, '0'), 'T23:59:59') end"
)
_RAW_TS_SQL = (
    "CASE CAST(doc_id % 3 AS INT) "
    "WHEN 0 THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' 10:30:05' "
    "WHEN 1 THEN lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/02/2024' "
    "ELSE '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T23:59:59' END"
)


@register(
    "tolerant_datetime_parse",
    survey="F7,F13",
    oracle=rf"""
WITH raw AS (
    SELECT doc_id, {_RAW_TS_SQL} AS raw_ts FROM documents
),
parsed AS (
    SELECT doc_id,
           coalesce(
               try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S'),
               try_strptime(raw_ts, '%d/%m/%Y'),
               try_strptime(raw_ts, '%Y-%m-%dT%H:%M:%S')
           ) AS ts
    FROM raw
)
SELECT CAST(month(ts) AS INT) AS m,
       count(*) AS n,
       CAST(min(day(ts)) AS INT) AS min_day,
       CAST(max(hour(ts)) AS INT) AS max_hour,
       CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS n_unparsed
FROM parsed
GROUP BY 1
""",
)
def tolerant_datetime_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the tolerant datetime fallback chain as
    coalesce(try_to_timestamp(fmt1), try_to_timestamp(fmt2), ...) —
    columnar, null on total failure (TRY semantics), no Python.  All
    formats are naive strings and only FIELDS of the parsed value are
    emitted, so results are independent of session timezone.

    Reference: app/pipelines/job_signals.py:39-49; glassdoor_collector.py:560-591.
    """
    d = load(spark, sf_dir, "documents", fan_out=True)
    raw = F.expr(_RAW_TS_SPARK)
    ts = F.coalesce(
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(raw, F.lit("dd/MM/yyyy")),
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
    )
    return (
        d.select(ts.alias("ts"))
        .groupBy(F.month("ts").cast("int").alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.dayofmonth("ts")).cast("int").alias("min_day"),
            F.max(F.hour("ts")).cast("int").alias("max_hour"),
            F.count(F.when(F.col("ts").isNull(), 1)).cast("bigint").alias("n_unparsed"),
        )
    )


# --- Python UDTF section splitter (§2.11 UDTF surface) ----------------------


def section_splitter_udtf():
    """Python UDTF (Spark 4 table function): one document row in,
    one row PER SECTION out — the S7 section splitter as a true
    lateral table function instead of the explode(array<struct>)
    encoding.  Sections are double-newline paragraphs tagged with
    index and char span; the UDTF shape is what a 10-K Item-splitter
    drops into.  Returned lazily so importing this module never costs
    a UDTF registration."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="section_index int, start_pos int, n_chars int, head string")
    class SectionSplitter:
        def eval(self, doc_id: int, text: str):  # noqa: D401
            if text is None:
                return
            pos = 0
            idx = 0
            for para in text.split("\n\n"):
                if para.strip():
                    yield idx, pos, len(para), para[:20]
                    idx += 1
                pos += len(para) + 2

    return SectionSplitter


@register(
    "udtf_section_split",
    survey="§2.11,S7 (extension: Python UDTF lateral table function)",
    oracle="""
WITH paras AS (
    SELECT doc_id, lang,
           unnest(string_split(text, chr(10) || chr(10))) AS para
    FROM documents
),
secs AS (
    SELECT doc_id, lang, length(para) AS n_chars
    FROM paras
    WHERE trim(para, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) <> ''
),
perdoc AS (
    SELECT doc_id, lang, count(*) AS n_secs, sum(n_chars) AS chars
    FROM secs
    GROUP BY doc_id, lang
)
SELECT lang,
       CAST(sum(n_secs) AS BIGINT) AS n_sections,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(max(n_secs) AS INT) AS max_sections_per_doc
FROM perdoc
GROUP BY lang
""",
)
def udtf_section_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rollup of UDTF-split sections: the table function
    runs in a `lateral join` over documents — Spark plans it as a
    Generate-style operator, partition-parallel like any UDF, with
    Arrow batching under `spark.sql.execution.pythonUDTF.arrow.enabled`.
    The oracle replays the paragraph splitter relationally (split on
    double-newline, drop whitespace-only paragraphs — Python
    `str.strip()` ≙ trim over the full ASCII whitespace class), so the
    UDTF surface is hash-checked, not just rows-only."""
    SectionSplitter = section_splitter_udtf()
    spark.udtf.register("split_sections", SectionSplitter)
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT d.lang,
               count(*) AS n_sections,
               CAST(sum(s.n_chars) AS BIGINT) AS total_chars,
               CAST(max(s.section_index) + 1 AS INT) AS max_sections_per_doc
        FROM udtf_docs_v d,
             LATERAL split_sections(d.doc_id, d.text) s
        GROUP BY d.lang
        """
    )


@register(
    "python_datasource_scan",
    survey="S-extension (custom Python DataSource, Spark 4 API)",
    oracle="""
WITH gen AS (
    SELECT p.p, i.i,
           md5(CAST(p.p AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)) AS h
    FROM (SELECT unnest(range(0, 4)) AS p) p,
         (SELECT unnest(range(0, 2000)) AS i) i
)
SELECT substr(h, 1, 2) AS key,
       CAST(count(*) AS BIGINT) AS n,
       floor(sum(('0x' || substr(h, 3, 8))::BIGINT / 4294967296.0)
             * 1e6 + 0.5) / 1e6 AS val_sum
FROM gen
GROUP BY 1
""",
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the custom Python DataSource
    (`sources/pydatasource.py`, Spark 4 `pyspark.sql.datasource`
    API) and aggregate per key.  The source is deterministic
    (md5-derived rows per InputPartition), so the DuckDB oracle
    REGENERATES the identical rows with range()+md5 and the hash
    check covers the whole source→scan→aggregate path — proof the
    partition-parallel source contract produces exactly the declared
    data."""
    from ..sources.pydatasource import SyntheticSignalsDataSource

    spark.dataSource.register(SyntheticSignalsDataSource)
    df = spark.read.format("synthetic_signals").load()
    return df.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(round_stable_sql("sum(val)", 6)).alias("val_sum"),
    )


# ---------------------------------------------------------------------------
# S3/S4: throttled fetch + raw artifact sink/scan (registered coverage)
# ---------------------------------------------------------------------------

_FILING_URL_PREFIX = "https://example.test/filings/"


def _offline_filing_client(url: str) -> bytes:
    """Deterministic stand-in for the SEC download client (reference
    app/pipelines/sec_edgar.py:42-61) — this sandbox has no egress, so
    the fetch operator runs against a pure function of the URL.  Every
    10th filing raises, exercising the per-row error-capture path."""
    if url.endswith("0.html"):
        raise ValueError(f"simulated HTTP 429: {url}")
    return f"<FILING {url}>".encode()


def _filing_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.select(
        F.concat(
            F.lit(_FILING_URL_PREFIX), F.col("doc_id").cast("string"), F.lit(".html")
        ).alias("url")
    )


@register(
    "throttled_fetch_artifacts",
    survey="S3",
    oracle=f"""
WITH u AS (
    SELECT doc_id,
           '{_FILING_URL_PREFIX}' || CAST(doc_id AS VARCHAR) || '.html' AS url
    FROM documents
)
SELECT url,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE CAST(length('<FILING ' || url || '>') AS BIGINT) END AS nbytes,
       CASE WHEN doc_id % 10 = 0 THEN 'ValueError: simulated HTTP 429: ' || url
            ELSE NULL END AS error,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE substr('<FILING ' || url || '>', 1, 24) END AS preview
FROM u
""",
)
def throttled_fetch_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: executor-side throttled fetch as a distributed operator —
    `mapInPandas` over the URL frame, each partition running its own
    token-bucket `RateLimitedFetcher` (reference sec_edgar.py:42-61),
    per-row error capture instead of job failure.  The oracle
    reconstructs content length / preview / error text from the URL,
    covering the whole fetch plumbing (URL build → partition client →
    bytes → row) relationally."""
    from ..sources.fetch import fetch_urls

    fetched = fetch_urls(
        _filing_urls(spark, sf_dir), fetch_fn=_offline_filing_client, max_per_sec=1e6
    )
    return fetched.select(
        "url",
        F.length("content").cast("bigint").alias("nbytes"),
        "error",
        F.substring(F.decode(F.col("content"), "UTF-8"), 1, 24).alias("preview"),
    )


@register(
    "binaryfile_artifact_scan",
    survey="S4,S21",
    oracle=f"""
WITH ok AS (
    SELECT '<FILING {_FILING_URL_PREFIX}' || CAST(doc_id AS VARCHAR) || '.html>' AS line
    FROM documents
    WHERE doc_id % 10 <> 0
)
SELECT CAST(4 AS BIGINT) AS n_files,
       CAST(sum(length(line) + 1) AS BIGINT) AS total_bytes,
       CAST(count(*) AS BIGINT) AS n_lines
FROM ok
""",
)
def binaryfile_artifact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 round trip: fetched filing bytes → raw artifact sink →
    `binaryFile` scan of the written files (reference
    sec_edgar.py:129-162 writes raw filings then re-reads them).

    The sink is `write_artifacts` (text, 4 explicit shards); the audit
    side reads the SAME directory twice — once with the `binaryFile`
    datasource (file count + on-disk byte totals; works on any Hadoop
    FS, no driver-local listing) and once as text (line count) — and
    the oracle predicts all three numbers arithmetically from
    `documents`, proving the bytes on disk are exactly the fetched
    payloads plus one newline per record."""
    from ..sources.fetch import fetch_urls, write_artifacts
    from ..sources.scratch import scratch_dir

    fetched = fetch_urls(
        _filing_urls(spark, sf_dir), fetch_fn=_offline_filing_client, max_per_sec=1e6
    )
    ok = fetched.filter(F.col("error").isNull()).select(
        F.decode(F.col("content"), "UTF-8").alias("value")
    )
    out = scratch_dir("raw_artifacts_")
    write_artifacts(ok.repartition(4), out, fmt="text")
    files = spark.read.format("binaryFile").option("pathGlobFilter", "part-*").load(out)
    stats = files.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("length").cast("bigint").alias("total_bytes"),
    )
    n_lines = spark.read.text(out).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return stats.crossJoin(n_lines)
