"""Ingestion parse operators — golden + invariant tests for the one
non-SQL-expressible parser (greedy paragraph chunker, rows-only in
the driver gate) and spot checks for the native parsers.
"""

from __future__ import annotations

from damg7245_casestudy_03_ai_scoring_engine_spark.operators.ingest import (
    _PACK_MAX,
    _PACK_OVERLAP,
    _PARA_TOKENS,
    greedy_pack_paragraphs,
    paragraph_chunk_df,
    python_datasource_scan,
)

from conftest import SF_SMOKE


def _independent_pack(text: str) -> list[str]:
    """Deliberately independent re-derivation of the packer contract:
    paragraphs are 12-token groups; a chunk closes when appending the
    next paragraph would push the joined length past the hard cap (or
    the chunk already reached target); the next chunk re-opens with
    the last paragraph (overlap)."""
    toks = text.split()
    paras = [
        " ".join(toks[i : i + _PARA_TOKENS]) for i in range(0, len(toks), _PARA_TOKENS)
    ]
    out, cur = [], []
    for p in paras:
        cand = cur + [p]
        if cur and (len(" ".join(cand)) > _PACK_MAX or len(" ".join(cur)) >= 150):
            out.append(" ".join(cur))
            cur = cur[-_PACK_OVERLAP:]
        cur.append(p)
    if cur:
        out.append(" ".join(cur))
    return out


def test_greedy_pack_matches_independent_mirror():
    texts = [
        "",
        "one two three",
        " ".join(f"w{i}" for i in range(100)),
        " ".join(f"token{i % 7}" for i in range(500)),
    ]
    for t in texts:
        assert greedy_pack_paragraphs(t) == _independent_pack(t), t[:40]


def test_greedy_pack_invariants():
    text = " ".join(f"w{i}" for i in range(300))
    chunks = greedy_pack_paragraphs(text)
    assert len(chunks) > 1
    # every chunk respects the hard cap (single oversized paragraphs exempt)
    for c in chunks:
        assert len(c) <= _PACK_MAX or c.count(" ") + 1 <= _PARA_TOKENS
    # consecutive chunks share the overlap paragraph
    for a, b in zip(chunks, chunks[1:]):
        tail = a.split()[-_PARA_TOKENS:]
        assert b.split()[: len(tail)] == tail
    # no token lost: stripping the overlap re-yields the original stream
    rebuilt = chunks[0].split()
    for c in chunks[1:]:
        rebuilt.extend(c.split()[_PARA_TOKENS:])
    assert rebuilt == text.split()


def test_paragraph_chunk_df_matches_local(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        (r.doc_id, r.chunk_index): (r.content, r.word_count)
        for r in paragraph_chunk_df(docs).collect()
    }
    local = {}
    for row in docs.select("doc_id", "text").collect():
        for i, c in enumerate(greedy_pack_paragraphs(row.text or "")):
            local[(row.doc_id, i)] = (c, len(c.split()))
    assert got == local


def test_udtf_sections_match_native_split(spark):
    """The Python UDTF section splitter must agree with the native
    split+posexplode encoding of the same rule."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    got = {
        r.lang: (r.n_sections, r.total_chars, r.max_sections_per_doc)
        for r in REGISTRY["udtf_section_split"].fn(spark, SF_SMOKE).collect()
    }

    d = load(spark, SF_SMOKE, "documents")
    native = (
        d.select(
            "lang",
            F.explode(
                F.filter(
                    F.split("text", "\n\n"),
                    lambda p: F.trim(p) != "",
                )
            ).alias("para"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sections"),
            F.sum(F.length("para")).cast("bigint").alias("total_chars"),
        )
    )
    want_counts = {r.lang: (r.n_sections, r.total_chars) for r in native.collect()}
    assert {k: v[:2] for k, v in got.items()} == want_counts
    assert all(v[2] >= 1 for v in got.values())


def test_python_datasource_scan_twice_in_one_session(spark):
    """The query registers its Python DataSource on every call.  A
    second registration in the same session replaces the first without
    raising, so the query needs no error handling around it."""
    first = sorted(python_datasource_scan(spark, SF_SMOKE).collect())
    second = sorted(python_datasource_scan(spark, SF_SMOKE).collect())
    assert first == second
    assert sum(r.n for r in first) == 8000
