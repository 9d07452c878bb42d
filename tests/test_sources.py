"""Fetch/sink layer (SURVEY.md §2.1 S3/S4/S6/S21): throttle math,
distributed fetch plumbing with injected clients, artifact sinks,
and the binaryFile scan path."""

from __future__ import annotations

import pytest

from damg7245_casestudy_03_ai_scoring_engine_spark.operators.ingest import pdf_text_extract_udf
from damg7245_casestudy_03_ai_scoring_engine_spark.sources.fetch import (
    RateLimitedFetcher,
    fetch_urls,
    http_fetch,
    write_artifacts,
)


def test_rate_limiter_spacing():
    t = {"now": 0.0}
    slept = []

    def clock():
        return t["now"]

    def sleep(s):
        slept.append(s)
        t["now"] += s

    f = RateLimitedFetcher(
        fetch_fn=lambda u: b"x", max_per_sec=5.0, clock=clock, sleep=sleep
    )
    for _ in range(6):
        f.fetch("http://u")
    # first call free; each subsequent call spaced 0.2 s
    assert f.requests_made == 6
    assert sum(slept) == pytest.approx(1.0)
    assert all(s == pytest.approx(0.2) for s in slept)


def test_http_fetch_is_stubbed():
    with pytest.raises(NotImplementedError):
        http_fetch("https://example.com")


def test_pdf_writer_extractor_roundtrip():
    """S6 fallback: the simple-PDF writer/extractor pair must
    round-trip text exactly, compressed and uncompressed, with
    PDF-special characters escaped."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.ingest import (
        make_simple_pdf,
        pdf_extract_pages_pure,
    )

    text = "balance (net) 100% \\ backslash and (nested (parens)) here"
    for compress in (True, False):
        blob = make_simple_pdf(text, compress=compress)
        assert blob.startswith(b"%PDF-1.4") and blob.rstrip().endswith(b"%%EOF")
        pages = pdf_extract_pages_pure(blob)
        assert len(pages) == 1
        assert pages[0].replace("\n", " ") == text


def test_pdf_kernel_over_binary_column(spark):
    """The S6 mapInPandas kernel consumes a (doc_id, content binary)
    frame — the binaryFile scan shape — and emits per-page rows."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.ingest import (
        make_simple_pdf,
    )

    rows = [(1, make_simple_pdf("alpha beta gamma")), (2, make_simple_pdf("delta"))]
    df = spark.createDataFrame(rows, "doc_id bigint, content binary")
    out = df.mapInPandas(
        pdf_text_extract_udf(), "doc_id bigint, page int, text string"
    ).collect()
    got = {r.doc_id: (r.page, r.text) for r in out}
    assert got[1] == (0, "alpha beta gamma") and got[2] == (0, "delta")


def test_fetch_urls_distributed(spark):
    urls = spark.createDataFrame(
        [("doc://a",), ("doc://b",), ("err://c",)], "url string"
    )

    def fake_fetch(url: str) -> bytes:
        if url.startswith("err"):
            raise IOError("boom")
        return url.encode()[::-1]

    rows = {r.url: r for r in fetch_urls(urls, fetch_fn=fake_fetch).collect()}
    assert rows["doc://a"].content == b"doc://a"[::-1]
    assert rows["doc://a"].error is None
    assert rows["err://c"].content is None
    assert "boom" in rows["err://c"].error


def test_write_artifacts_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    p_json = str(tmp_path / "artifacts_json")
    write_artifacts(df, p_json, "json")
    assert sorted(tuple(r) for r in spark.read.json(p_json).select("id", "v").collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    p_text = str(tmp_path / "artifacts_text")
    write_artifacts(df.select(df.v.alias("value")), p_text, "text")
    assert sorted(r.value for r in spark.read.text(p_text).collect()) == ["a", "b"]
    with pytest.raises(ValueError):
        write_artifacts(df, str(tmp_path / "x"), "csvish")


def test_binary_file_scan(spark, tmp_path):
    # S4's read-back path: raw filing bytes on disk → binaryFile scan
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "f1.htm").write_bytes(b"<html>alpha</html>")
    (raw / "f2.htm").write_bytes(b"<html>beta</html>")
    df = spark.read.format("binaryFile").load(str(raw))
    got = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert got == {"f1.htm": b"<html>alpha</html>", "f2.htm": b"<html>beta</html>"}


def test_resize_images_fake_kernel(spark):
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.multimodal import (
        documents_as_assets,
        fake_decode,
        resize_images,
    )
    from conftest import SF_SMOKE

    assets = documents_as_assets(spark, SF_SMOKE)
    resized = {r.asset_id: r for r in resize_images(assets, max_side=64).collect()}
    for r in assets.collect():
        out = resized[r.asset_id]
        if r.kind == "image":
            assert out.width is not None and max(out.width, out.height) <= 64
            assert len(out.content) <= len(r.content)
            d = fake_decode(bytes(r.content), "image")
            if max(d["width"], d["height"]) <= 64:  # no upscale
                assert (out.width, out.height) == (d["width"], d["height"])
        else:
            assert out.width is None and bytes(out.content) == bytes(r.content)


def test_sample_frames_every_nth(spark):
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.multimodal import (
        documents_as_assets,
        fake_decode,
        sample_frames,
    )
    from conftest import SF_SMOKE

    assets = documents_as_assets(spark, SF_SMOKE)
    frames = sample_frames(assets, every_nth=4).collect()
    assert frames, "expected sampled frames"
    assert all(f.frame_index % 4 == 0 for f in frames)
    vids = {r.asset_id: bytes(r.content) for r in assets.collect() if r.kind == "video"}
    by_asset: dict[int, list] = {}
    for f in frames:
        by_asset.setdefault(f.asset_id, []).append(f.frame_index)
    for aid, idxs in by_asset.items():
        n = fake_decode(vids[aid], "video")["n_frames"]
        assert sorted(idxs) == list(range(0, n, 4))


def test_csv_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE CSV audit: parseable rows land clean, broken rows
    land in quarantine with their raw payload — the job never fails."""
    from pyspark.sql import types as T

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.robust import read_csv_audited

    p = tmp_path / "signals.csv"
    p.write_text(
        "signal_id,score,ticker\n"
        "1,0.5,WMT\n"
        "2,not_a_number,JPM\n"
        "3,0.9,CAT\n"
    )
    schema = T.StructType(
        [
            T.StructField("signal_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ticker", T.StringType()),
        ]
    )
    good, quarantine = read_csv_audited(spark, str(p), schema)
    assert sorted(r.signal_id for r in good.collect()) == [1, 3]
    bad = quarantine.collect()
    assert len(bad) == 1 and "not_a_number" in bad[0].raw_payload


def test_parquet_schema_evolution_merges_additive_columns(spark, tmp_path):
    """Files written before a column existed read back as nulls for
    that column under mergeSchema."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.robust import (
        read_parquet_evolved,
    )

    d = str(tmp_path / "bronze")
    spark.createDataFrame(
        [(1, "a")], "id long, payload string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", 0.7)], "id long, payload string, quality double"
    ).write.mode("append").parquet(d)

    df = read_parquet_evolved(spark, d)
    assert set(df.columns) == {"id", "payload", "quality"}
    rows = {r.id: r.quality for r in df.collect()}
    assert rows[1] is None and abs(rows[2] - 0.7) < 1e-12


def test_schema_evolution_scan_keys_on_full_dataset_path(spark, tmp_path):
    """`schema_evolution_scan` memoizes its written generations per
    dataset: two directories sharing a basename must each get their
    own result, not the first one's."""
    from collections import Counter

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    want = {}
    for side, keep in (("a", 0), ("b", 1)):
        sf_dir = tmp_path / side / "sf"
        sf_dir.mkdir(parents=True)
        part = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), keep))
        pq.write_table(part, sf_dir / "documents.parquet")
        want[str(sf_dir)] = Counter(part.column("source").to_pylist())
    a_counts, b_counts = want.values()
    assert a_counts != b_counts, "the two datasets must differ"
    for sf_dir, counts in want.items():
        rows = REGISTRY["schema_evolution_scan"].fn(spark, sf_dir).collect()
        assert {r.source: r.n_docs for r in rows} == dict(counts), sf_dir


def test_orc_roundtrip_preserves_rows(spark, tmp_path):
    """ORC is the second built-in columnar format; a bronze table
    must round-trip bit-identically (events' ns-longs included)."""
    from conftest import SF_SMOKE
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    ev = load(spark, SF_SMOKE, "events")
    p = str(tmp_path / "events_orc")
    ev.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    a = ev.agg(F.count(F.lit(1)), F.sum("event_id"), F.sum(F.col("ts") % 1_000_000_000)).collect()[0]
    b = back.agg(F.count(F.lit(1)), F.sum("event_id"), F.sum(F.col("ts") % 1_000_000_000)).collect()[0]
    assert tuple(a) == tuple(b)
    assert dict(back.dtypes)["ts"] == "bigint"


def test_events_ts_normalized_across_fixture_dtypes(spark, tmp_path):
    """Regression for the round-2 ts regression: the driver's testdata
    has shipped events.ts as parquet TIMESTAMP(NANOS) (read as long via
    nanosAsLong) and as TIMESTAMP_NTZ(µs) — `load` must normalize BOTH
    (plus tz-aware TIMESTAMP) to the same int64 ns-since-naive-epoch
    values, regardless of session timezone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load, ns

    base = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    # 2024-03-15 12:34:56.789123 and an exact-second boundary value
    expect = [ns("2024-03-15 12:34:56") + 789_123_000, ns("2024-07-01")]

    def fixture(name: str, ts_arr: pa.Array) -> str:
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({**base, "ts": ts_arr})
        pq.write_table(tbl, str(d / "events.parquet"))
        return str(d)

    micros = [e // 1_000 for e in expect]
    millis = [e // 1_000_000 for e in expect]
    cases = {
        "ntz_us": (pa.array(micros, pa.timestamp("us")), [m * 1_000 for m in micros]),
        "nanos": (pa.array(expect, pa.timestamp("ns")), expect),
        "utc_us": (pa.array(micros, pa.timestamp("us", tz="UTC")), [m * 1_000 for m in micros]),
        # plain int64 columns with no declared unit: the loader infers
        # the unit from footer max statistics and rescales to ns
        "raw_int_us": (pa.array(micros, pa.int64()), [m * 1_000 for m in micros]),
        "raw_int_ns": (pa.array(expect, pa.int64()), expect),
        "raw_int_ms": (pa.array(millis, pa.int64()), [m * 1_000_000 for m in millis]),
    }
    for name, (arr, want) in cases.items():
        df = load(spark, fixture(name, arr), "events")
        assert dict(df.dtypes)["ts"] == "bigint", name
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == sorted(want), name


def test_zstd_parquet_smaller_and_readable(spark, tmp_path):
    """zstd compression must produce a smaller (or equal) footprint
    than uncompressed and read back identically — the storage knob a
    100 TB lake turns first."""
    import os

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    docs = load(spark, SF_SMOKE, "documents")

    def write(codec, d):
        docs.coalesce(1).write.mode("overwrite").option("compression", codec).parquet(d)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    none_b = write("none", str(tmp_path / "none"))
    zstd_b = write("zstd", str(tmp_path / "zstd"))
    assert zstd_b < none_b
    back = spark.read.parquet(str(tmp_path / "zstd"))
    assert back.count() == docs.count()
    got = back.agg(F.sum(F.length("text"))).collect()[0][0]
    want = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    assert got == want


def test_zorder_layout_files_skippable_on_both_dims(spark):
    """The Z-order layout's point: each output file covers a small
    rectangle in (user_id, ts) space, so a 2-D box predicate can skip
    most files on their parquet min/max stats alone.  Structural
    check on the real written files: the query box must intersect at
    most half the files' bounding boxes — a 1-D sort (by ts alone)
    would make EVERY file span the full user range and intersect."""
    import os

    import pyarrow.parquet as pq

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _zorder_events_path,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import ns
    from conftest import SF_CORRECTNESS

    path = _zorder_events_path(spark, SF_CORRECTNESS)

    lo_u, hi_u = 3, 60
    lo_t, hi_t = ns("2024-01-08"), ns("2024-01-15")
    n_files = n_hit = 0
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        n_files += 1
        stats = {}
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in ("user_id", "ts") and col.statistics:
                    mn, mx = stats.get(col.path_in_schema, (None, None))
                    s = col.statistics
                    stats[col.path_in_schema] = (
                        s.min if mn is None else min(mn, s.min),
                        s.max if mx is None else max(mx, s.max),
                    )
        u, t = stats["user_id"], stats["ts"]
        if u[0] <= hi_u and u[1] >= lo_u and t[0] < hi_t and t[1] >= lo_t:
            n_hit += 1
    assert n_files >= 8, f"expected a multi-file layout, got {n_files}"
    assert n_hit <= n_files // 2, (
        f"z-order not clustering: {n_hit}/{n_files} files intersect the box"
    )


def test_file_bloom_index_skips_files(spark):
    """The per-file Bloom index must select a strict subset of the
    layout's files for a point key (that's the IO it saves), and the
    probe key's row must be in the selected files (no false
    negatives — the bit-OR fold, not +, guarantees this even when two
    hash seeds land on the same bit).  The index is a DataFrame (not a
    collected list) and the membership probe is a plan-side filter;
    only matching paths are collected.  Also pins saturation
    visibility: every file's fill_frac must sit below _BLOOM_FILL_MAX
    at fixture scale, so a layout change that outgrows the
    size-adaptive filter fails loudly here instead of
    silently degrading to a full scan."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _BLOOM_FILL_MAX,
        _LOOKUP_EVENT_ID,
        _bloom_positions,
        _file_bloom_index,
        bloom_member,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from pyspark.sql import functions as F
    from conftest import SF_CORRECTNESS

    idx, bits = _file_bloom_index(spark, SF_CORRECTNESS)  # self-sufficient
    rows = idx.collect()
    sat = [(r["file"], r["fill_frac"], r["n_keys"]) for r in rows
           if r["fill_frac"] >= _BLOOM_FILL_MAX]
    assert not sat, f"bloom filters saturated at fixture scale: {sat}"
    # n_keys is exact per file: the total must cover the table's
    # distinct event_id count (>= because a key may span two files)
    total_keys = sum(r["n_keys"] for r in rows)
    want_keys = (
        load(spark, SF_CORRECTNESS, "events").select("event_id").distinct().count()
    )
    assert total_keys >= want_keys
    probe = (
        spark.range(1)
        .select(*[
            p.alias(f"p{j}")
            for j, p in enumerate(
                _bloom_positions(F.lit(_LOOKUP_EVENT_ID).cast("long"), bits)
            )
        ])
        .first()
    )
    pos = [probe[f"p{j}"] for j in range(4)]
    hit = [r["file"] for r in idx.filter(bloom_member(pos)).select("file").collect()]
    assert 0 < len(hit) < len(rows), (
        f"no skipping: {len(hit)}/{len(rows)} files selected"
    )
    got = (
        spark.read.parquet(*hit)
        .filter(F.col("event_id") == _LOOKUP_EVENT_ID)
        .count()
    )
    assert got == 1


def test_bloom_bits_sizing():
    """~10 bits per expected key per file, next power of two, clamped —
    and the implied fill fraction at the design point stays under the
    saturation pin (1−exp(−k·n/m) < 0.5 for m = _bloom_bits_for(n))."""
    import math

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _BLOOM_FILL_MAX,
        _BLOOM_K,
        _bloom_bits_for,
    )

    assert _bloom_bits_for(0, 16) == 1 << 10          # floor
    assert _bloom_bits_for(100, 16) == 1 << 10        # 6 keys/file
    assert _bloom_bits_for(10_000, 16) == 1 << 13     # 625 keys/file → 8192
    assert _bloom_bits_for(10_000_000, 16) == 1 << 22  # ceiling clamp
    for n_rows, n_files in ((1_000, 16), (10_000, 16), (1_000_000, 64)):
        per_file = n_rows // n_files
        m = _bloom_bits_for(n_rows, n_files)
        if m < 1 << 22:  # below the clamp the design point must hold
            fill = 1 - math.exp(-_BLOOM_K * per_file / m)
            assert fill < _BLOOM_FILL_MAX, (n_rows, n_files, m, fill)


def test_bloom_index_incremental_append_equals_rebuild(spark):
    """Index maintenance on APPEND: per-file Bloom rows depend only on
    their own file's keys (and the fixed width), so indexing only the
    newly-arrived files and unioning onto the existing index must be
    row-for-row EQUAL to a full rebuild — the property that lets a
    100 TB table keep its secondary index current without ever
    re-reading old data."""
    from conftest import SF_CORRECTNESS
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _zorder_events,
        append_file_bloom_index,
        build_file_bloom_index,
    )

    files = sorted(_zorder_events(spark, SF_CORRECTNESS).inputFiles())
    assert len(files) >= 4, "need a multi-file layout for the split"
    old_files, new_files = files[: len(files) // 2], files[len(files) // 2 :]
    bits = 1024

    def base(paths):
        return spark.read.parquet(*paths).select(
            F.input_file_name().alias("file"),
            F.col("event_id").cast("long").alias("key"),
        )

    def canon(df):
        return sorted(
            (r.file, tuple(r.words), r.n_keys, r.fill_frac)
            for r in df.collect()
        )

    full = build_file_bloom_index(base(files), bits)
    incremental = append_file_bloom_index(
        build_file_bloom_index(base(old_files), bits), base(new_files), bits
    )
    assert canon(incremental) == canon(full)

    # width is a per-generation invariant: appending at a different
    # width would mix word-array layouts and turn probes into false
    # NEGATIVES — it must fail loudly, not build a broken index
    import pytest

    with pytest.raises(ValueError, match="width mismatch"):
        append_file_bloom_index(
            build_file_bloom_index(base(old_files), bits),
            base(new_files),
            bits * 2,
        )


def test_bloom_saturation_supersets_and_rebuild_trigger(spark):
    """The append-maintenance saturation contract: (a) a SATURATED
    index still answers membership with a correct superset — every
    file that truly contains the probe key is selected (Bloom can
    only add false positives, never drop a file), so results stay
    right while IO degrades; (b) `bloom_rebuild_decision` fires on a
    synthetic append stream once the median fill crosses the
    threshold, proposing a wider generation sized from the observed
    per-file key load."""
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _BLOOM_K,
        _bloom_positions,
        append_file_bloom_index,
        bloom_member,
        bloom_rebuild_decision,
        build_file_bloom_index,
    )

    bits = 1024  # deliberately undersized so the stream saturates

    def batch(file_id: int, n_keys: int):
        # synthetic append batch: one new file, keys disjoint per file
        return (
            spark.range(n_keys)
            .select(
                F.lit(f"file_{file_id:03d}").alias("file"),
                (F.col("id") + file_id * 1_000_000).cast("long").alias("key"),
            )
        )

    # generation starts healthy: 2 sparse files (~30 keys ≈ 12% fill)
    idx = build_file_bloom_index(
        batch(0, 30).unionByName(batch(1, 30)), bits
    )
    d0 = bloom_rebuild_decision(idx, bits)
    assert not d0["rebuild"] and d0["next_bits"] == bits

    # append stream of dense files (500 keys each → expected fill
    # 1−exp(−4·500/1024) ≈ 0.86) until the MEDIAN crosses 0.5
    for i in range(2, 8):
        idx = append_file_bloom_index(idx, batch(i, 500), bits)
    d1 = bloom_rebuild_decision(idx, bits)
    assert d1["rebuild"], f"median fill {d1['median_fill']} did not trigger"
    assert d1["median_fill"] > 0.5
    assert d1["next_bits"] > bits  # proposed generation is wider

    # correctness under saturation: probe a key KNOWN to live in a
    # dense (saturated) file — the selected set must contain that file
    probe_key = 5 * 1_000_000 + 123  # lives in file_005
    probe = (
        spark.range(1)
        .select(*[
            p.alias(f"p{j}")
            for j, p in enumerate(
                _bloom_positions(F.lit(probe_key).cast("long"), bits)
            )
        ])
        .first()
    )
    pos = [probe[f"p{j}"] for j in range(_BLOOM_K)]
    hit = {r["file"] for r in idx.filter(bloom_member(pos)).collect()}
    assert "file_005" in hit, "saturated index dropped a true file"


def test_compaction_plan_bins_invariants(spark):
    """The metadata-only compaction planner: bins must (a) conserve
    the total row count, (b) be CONTIGUOUS in partition-key order
    (rewrites stay partition-local so clustering survives), and
    (c) every bin except possibly the last closes at ≥ the target —
    the packing can't leave two adjacent underfull bins."""
    from conftest import SF_CORRECTNESS

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _COMPACT_TARGET_ROWS,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    rows = sorted(
        REGISTRY["compaction_plan_bins"].fn(spark, SF_CORRECTNESS).collect(),
        key=lambda r: r.ship_month,
    )
    assert rows
    total = load(spark, SF_CORRECTNESS, "lineitem").count()
    assert sum(r.n_rows for r in rows) == total
    # contiguity: bin ids are non-decreasing along partition order
    bins = [r.bin_id for r in rows]
    assert bins == sorted(bins)
    # each bin's reported totals are internally consistent
    by_bin: dict[int, list] = {}
    for r in rows:
        by_bin.setdefault(r.bin_id, []).append(r)
    for b, members in by_bin.items():
        want = sum(m.n_rows for m in members)
        assert all(m.bin_rows == want for m in members), b
        assert all(m.bin_files == len(members) for m in members), b
    # closure: bin assignment is exactly the cumulative-packing
    # formula — a bin only closes once the running total crossed the
    # target, so no two adjacent bins can both be underfull
    cum = 0
    for r in rows:
        assert r.bin_id == cum // _COMPACT_TARGET_ROWS
        cum += r.n_rows
    assert max(by_bin) == (cum - rows[-1].n_rows) // _COMPACT_TARGET_ROWS


def test_bloom_rebuild_decision_at_width_cap(spark):
    """A generation already at _BLOOM_MAX_BITS that saturates must
    NOT recommend a rebuild at the same width (futile-loop trap):
    rebuild=False with at_cap=True and next_bits unchanged."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.layout import (
        _BLOOM_MAX_BITS,
        bloom_rebuild_decision,
    )

    idx = spark.createDataFrame(
        [("f0", 0.95, 9_000_000), ("f1", 0.92, 8_500_000)],
        "file string, fill_frac double, n_keys long",
    )
    d = bloom_rebuild_decision(idx, _BLOOM_MAX_BITS)
    assert d["at_cap"] is True
    assert d["rebuild"] is False
    assert d["next_bits"] == _BLOOM_MAX_BITS
    # and a healthy sub-cap generation still widens with at_cap False
    d2 = bloom_rebuild_decision(idx, 1024)
    assert d2["rebuild"] is True and d2["next_bits"] > 1024
    assert d2["at_cap"] is False


def test_read_parquet_memo_reuses_resolved_frame(spark, tmp_path):
    """r13: `read_parquet_memo` memoizes the DataFrame itself (keeping
    its resolved file index — partition discovery is driver-side
    listing paid per fresh path read), not just the schema.  The memo
    contract: same (session, path) → the SAME frame object, correct
    rows including hive partition columns, and no stale-directory
    hazard because callers only pass write-once scratch paths."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import (
        read_parquet_memo,
    )

    path = str(tmp_path / "memo_layout")
    (
        spark.range(100)
        .selectExpr("id", "id % 4 AS part")
        .write.partitionBy("part")
        .parquet(path)
    )
    df1 = read_parquet_memo(spark, path)
    df2 = read_parquet_memo(spark, path)
    assert df1 is df2, "second read must reuse the memoized frame"
    assert set(df1.columns) == {"id", "part"}  # partition column discovered
    assert df1.count() == 100
    assert df1.filter("part = 2").count() == 25
    # a DIFFERENT path must not collide with the memo
    path2 = str(tmp_path / "memo_layout_b")
    spark.range(7).write.parquet(path2)
    assert read_parquet_memo(spark, path2).count() == 7
    assert read_parquet_memo(spark, path) is df1


def test_read_parquet_memo_invalidates_on_rewrite(spark, tmp_path):
    """r14 (r13 advisor note): the write-once contract is enforced by a
    change signature on the layout root — a rewritten path serves a
    FRESH file index (correct new rows), never the stale memo."""
    import time

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import (
        read_parquet_memo,
    )

    path = str(tmp_path / "memo_rewrite")
    spark.range(5).write.parquet(path)
    df1 = read_parquet_memo(spark, path)
    assert df1.count() == 5
    time.sleep(0.05)  # ensure a distinct mtime_ns on coarse filesystems
    spark.range(9).write.mode("overwrite").parquet(path)
    df2 = read_parquet_memo(spark, path)
    assert df2 is not df1, "rewrite must invalidate the memoized frame"
    assert df2.count() == 9
    # and the fresh entry memoizes again
    assert read_parquet_memo(spark, path) is df2


def test_read_parquet_memo_sees_nested_rewrite(spark, tmp_path):
    """A file dropped into an EXISTING `part=k/` directory leaves the
    layout root's mtime alone; the change signature also covers the
    root's immediate children, so the next read serves the new rows."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import (
        read_parquet_memo,
    )

    path = tmp_path / "memo_nested"
    spark.range(100).selectExpr("id", "id % 4 AS part").write.partitionBy(
        "part"
    ).parquet(str(path))
    df1 = read_parquet_memo(spark, str(path))
    assert df1.count() == 100
    root_mtime = path.stat().st_mtime_ns
    time.sleep(0.05)  # ensure a distinct mtime_ns on coarse filesystems
    pq.write_table(
        pa.table({"id": pa.array(range(1000, 1007), pa.int64())}),
        path / "part=1" / "part-extra.parquet",
    )
    assert path.stat().st_mtime_ns == root_mtime, "root must be untouched"
    df2 = read_parquet_memo(spark, str(path))
    assert df2 is not df1
    assert df2.count() == 107
    assert df2.filter("part = 1").count() == 32


def _multi_row_group_lineitem(tmp_path, par):
    """One small lineitem file cut into > par row groups: every row
    group sits in the same byte range, so the scan is ONE split."""
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE

    t = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    pq.write_table(
        t,
        tmp_path / "lineitem.parquet",
        row_group_size=max(1, t.num_rows // (par + 1)),
    )
    assert pq.ParquetFile(tmp_path / "lineitem.parquet").metadata.num_row_groups > par
    return str(tmp_path)


def _many_file_lineitem(spark, tmp_path, par):
    spark.range(par * 10).repartition(par).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    return str(tmp_path)


@pytest.mark.parametrize(
    "layout, repartitions",
    [("fixture", True), ("many_files", False), ("multi_row_group", True)],
    ids=["fixture", "many_files", "multi_row_group"],
)
def test_fan_out_gate_on_scan_parallelism(spark, tmp_path, layout, repartitions):
    """r14 (the r13 verdict's top scale risk): `load(..., fan_out=True)`
    repartitions ONLY when the parquet scan cannot already split to
    defaultParallelism non-empty splits.  The single-row-group fixture
    keeps the fan-out; a >= parallelism multi-file layout skips the
    gratuitous base-table shuffle; a small file with many row groups is
    still one byte range, so it keeps the fan-out too."""
    from conftest import SF_SMOKE

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources import catalog

    par = spark.sparkContext.defaultParallelism
    sf_dir = {
        "fixture": lambda: SF_SMOKE,
        "many_files": lambda: _many_file_lineitem(spark, tmp_path, par),
        "multi_row_group": lambda: _multi_row_group_lineitem(tmp_path, par),
    }[layout]()
    df = catalog.load(spark, sf_dir, "lineitem", fan_out=True)
    plan = df._jdf.queryExecution().toString()
    assert ("RoundRobinPartitioning" in plan) is repartitions
