"""Streaming twins, multimodal plumbing, and domain-pipeline golden tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockpy_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    sample_frames,
)
from stockpy_spark.pipelines import transform_news, transform_stocks
from stockpy_spark.plans import Pipeline
from stockpy_spark.streaming.ops import (
    dedup_within_watermark,
    file_stream,
    run_to_memory,
    session_agg,
    windowed_agg,
)


# --- streaming ---

def _write_stream_input(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "u1", "click", 1.0, "2024-01-01 00:00:30"),
            (2, "u1", "click", 2.0, "2024-01-01 00:01:10"),
            (3, "u2", "view", 3.0, "2024-01-01 00:01:20"),
            (1, "u1", "click", 1.0, "2024-01-01 00:02:30"),  # dup event_id
            (4, "u1", "click", 5.0, "2024-01-01 02:00:00"),  # new session
        ],
        "event_id long, user string, etype string, value double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    path = str(tmp_path / "stream_in")
    df.coalesce(1).write.parquet(path)
    return path, df.schema


def test_streaming_windowed_agg(spark, tmp_path):
    path, schema = _write_stream_input(spark, tmp_path)
    stream = file_stream(spark, path, schema)
    agg = windowed_agg(stream, "ts", ["etype"], "1 minute",
                       {"n": F.count(F.lit(1)), "total": F.sum("value")})
    run_to_memory(agg, "win_out")
    rows = {(r.window_start.strftime("%H:%M"), r.etype): (r.n, r.total)
            for r in spark.table("win_out").collect()}
    assert rows[("00:00", "click")] == (1, 1.0)
    assert rows[("00:01", "click")] == (1, 2.0)
    assert rows[("00:01", "view")] == (1, 3.0)


def test_upsert_log_exact_across_micro_batches(spark, tmp_path):
    """The property the stream_* driver gates rest on: an update-mode
    upsert log resolved last-write-wins equals the batch aggregate even
    when one group's rows SPAN micro-batches (forced here with
    maxFilesPerTrigger=1 over two source files)."""
    from stockpy_spark.streaming.ops import (
        read_upsert_log_final,
        run_update_upsert_log_to_parquet,
    )

    rows1 = [(1, "click", 1.0, "2024-01-01 00:10:00"),
             (2, "view", 3.0, "2024-01-01 00:20:00")]
    rows2 = [(3, "click", 5.0, "2024-01-01 00:40:00"),  # same hour+type as #1
             (4, "click", 7.0, "2024-01-01 02:05:00")]
    schema_s = "event_id long, etype string, value double, ts_s string"
    src = str(tmp_path / "src")
    for i, rows in enumerate((rows1, rows2)):
        (spark.createDataFrame(rows, schema_s)
         .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
         .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed_agg(
        stream, "ts", ["etype"], "1 hour",
        {"n": F.count(F.lit(1)).cast("long"), "total": F.sum("value")},
        watermark="365 days",
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    run_update_upsert_log_to_parquet(agg, sink, ckpt)
    raw = spark.read.parquet(sink)
    assert raw.select("__batch_id").distinct().count() >= 2  # batches split
    assert raw.count() > 3  # the spanning group was emitted twice
    final = read_upsert_log_final(spark, sink, ["window_start", "etype"])
    got = {(r.window_start.strftime("%H"), r.etype): (r.n, r.total)
           for r in final.collect()}
    assert got == {("00", "click"): (2, 6.0), ("00", "view"): (1, 3.0),
                   ("02", "click"): (1, 7.0)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    path, schema = _write_stream_input(spark, tmp_path)
    stream = file_stream(spark, path, schema)
    out = dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    run_to_memory(out, "dedup_out")
    assert spark.table("dedup_out").count() == 4  # 5 rows, 1 dup dropped


def test_streaming_session_agg(spark, tmp_path):
    path, schema = _write_stream_input(spark, tmp_path)
    stream = file_stream(spark, path, schema)
    out = session_agg(stream, "ts", ["user"], "30 minutes",
                      {"n": F.count(F.lit(1))})
    run_to_memory(out, "sess_out")
    rows = sorted((r.user, r.n) for r in spark.table("sess_out").collect())
    # append mode emits only watermark-closed sessions: u1's 00:00-00:02
    # session (3 events) and u2's. u1's 02:00 session is still open when
    # the input ends (watermark = 02:00 - 10min) -> correctly withheld.
    assert rows == [("u1", 3), ("u2", 1)]


# --- multimodal ---

def test_multimodal_payload_and_features(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "")], "doc_id long, text string"
    )
    assets = attach_binary_payload(docs, "text", "doc_id")
    schema = dict(assets.dtypes)
    assert schema["payload"] == "binary"
    feats = {r.doc_id: r for r in extract_features(assets).collect()}
    assert feats[1].n_bytes == 3
    assert feats[1].first_byte == ord("a")
    assert feats[1].byte_sum_mod == ord("a") + ord("b") + ord("c")
    assert feats[2].n_bytes == 0 and feats[2].first_byte == -1


def test_multimodal_codec_stub_raises(spark):
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    assets = attach_binary_payload(docs, "text", "doc_id")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(assets, use_codec=True).collect()


def test_multimodal_frame_sampling(spark):
    docs = spark.createDataFrame([(1, "x" * 200)], "doc_id long, text string")
    assets = attach_binary_payload(docs, "text", "doc_id")
    frames = sample_frames(assets, every_n_bytes=64).collect()
    assert len(frames) == 3  # 200 bytes / 64 -> 3 frames
    assert len(frames[0].frame_bytes) == 64


# --- domain pipelines (golden semantics on FIXTURES.md-shaped inputs) ---

def test_transform_stocks_golden(spark):
    raw = spark.createDataFrame(
        [
            ("Banks", "ITUB4", "Itau", "2024-01-01", 10.0, 11.0, 9.0, 10.5, 100),
            ("Banks", "ITUB4", "Itau", "2024-01-02", 12.0, 13.0, 11.0, 11.5, 200),
            ("Banks", "BBDC4", "Bradesco", "2024-01-01", 20.0, 21.0, 19.0, 20.5, 300),
            (None, "XXXX", "Ghost", "2024-01-01", 5.0, 5.0, 5.0, 5.0, 10),  # filtered
            ("Energy", "ELET3", "Eletro", "2024-01-01", 0.0, 1.0, 0.5, 0.7, 50),  # close<=0
        ],
        "sector string, ticker string, company string, date string,"
        "close double, high double, low double, open double, volume long",
    )
    out = transform_stocks(raw)
    rows = {(r.codigoAcao, str(r.data)): r for r in out.collect()}
    assert len(rows) == 3  # null-sector and close<=0 rows dropped
    r = rows[("ITUB4", "2024-01-02")]
    assert abs(r.mediaFechamento - 14.0) < 1e-9  # (10+12+20)/3 per-sector avg
    assert r.totalVolume == 600
    assert r.variacaoFechamento == 2.0  # 12 - lag(10)
    assert rows[("BBDC4", "2024-01-01")].variacaoFechamento is None


def test_transform_news_golden(spark):
    raw = spark.createDataFrame(
        [
            ("ITUB4", "t1", "l1", "G1", "2024-01-05T10:00:00", "2024-01-05"),
            ("ITUB4", "t1", "l1", "G1", "2024-01-05T10:00:00", "2024-01-05"),  # exact dup
            ("ITUB4", "t0", "l1", "G1", "2024-01-05T11:00:00", "2024-01-05"),  # same link
            ("BBDC4", "t2", "l2", "G1", "2024-01-04T10:00:00", "2024-01-05"),  # stale
            ("BBDC4", None, "l3", "G1", "2024-01-05T10:00:00", "2024-01-05"),  # null title
        ],
        "ticker string, title string, link string, source string,"
        "published_date string, extracted_date string",
    )
    out = transform_news(raw, "20240105")
    rows = {r.link: r for r in out.collect()}
    assert set(rows) == {"l1"}
    assert rows["l1"].title == "t0"  # deterministic first-by-title survivor
    assert rows["l1"].company is None  # aligned missing column
    assert rows["l1"].dataproc == "20240105"


def test_transform_news_keeps_link_with_a_complete_copy(spark):
    """A link whose first copy by title lacks a required field keeps
    its complete copy: rows missing title/source are dropped BEFORE the
    per-link dedup (ascending title sorts NULL first, so deduping first
    kept the incomplete copy and then dropped the link)."""
    raw = spark.createDataFrame(
        [
            ("ITUB4", None, "l9", "G1", "2024-01-05T10:00:00", "2024-01-05"),
            ("ITUB4", "t5", "l9", "G1", "2024-01-05T11:00:00", "2024-01-05"),
            ("BBDC4", "a0", "l8", None, "2024-01-05T10:00:00", "2024-01-05"),
            ("BBDC4", "b1", "l8", "G2", "2024-01-05T12:00:00", "2024-01-05"),
            # same link and title: the remaining columns pick the survivor
            ("PETR4", "t7", "l7", "G3", "2024-01-05T10:00:00", "2024-01-05"),
            ("ABEV3", "t7", "l7", "G3", "2024-01-05T10:00:00", "2024-01-05"),
        ],
        "ticker string, title string, link string, source string,"
        "published_date string, extracted_date string",
    )
    rows = {r.link: r for r in transform_news(raw, "20240105").collect()}
    assert {k: (r.title, r.source) for k, r in rows.items()} == {
        "l9": ("t5", "G1"),
        "l8": ("b1", "G2"),
        "l7": ("t7", "G3"),
    }
    assert rows["l7"].ticker == "ABEV3"


def test_pipeline_runner_fail_fast():
    p = Pipeline().add("a", lambda ctx: ctx.setdefault("x", 1))
    p.add("boom", lambda ctx: 1 / 0).add("never", lambda ctx: ctx.update(y=2))
    ctx, results = p.run()
    assert [r.ok for r in results] == [True, False]
    assert ctx == {"x": 1}  # third stage never ran


def test_stateful_running_stats_apply_in_pandas_with_state(spark, tmp_path):
    from stockpy_spark.streaming.ops import stateful_running_stats

    path, schema = _write_stream_input(spark, tmp_path)
    stream = file_stream(spark, path, schema)
    out = stateful_running_stats(stream, "user", "value", "ts")
    run_to_memory(out, "state_out", output_mode="update")
    rows = {r.key: (r.n, r.total, r.running_max)
            for r in spark.table("state_out").collect()}
    # u1: 4 events (dup event_id still counts as input), sum 9.0, max 5.0
    assert rows["u1"] == (4, 9.0, 5.0)
    assert rows["u2"] == (1, 3.0, 3.0)


def test_multi_format_round_trip(spark, tmp_path):
    from stockpy_spark.sources.readers import read_csv, read_json, read_orc
    from stockpy_spark.sources.writers import write_format_partitioned

    src = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    expected = sorted(tuple(r) for r in src.collect())

    from stockpy_spark.sources.readers import read_xml

    for fmt, reader in [
        ("csv", lambda p: read_csv(spark, p, src.schema)),
        ("json", lambda p: read_json(spark, p, src.schema)),
        ("orc", lambda p: read_orc(spark, p, src.schema)),
        ("xml", lambda p: read_xml(spark, p, src.schema)),
    ]:
        dest = str(tmp_path / fmt)
        write_format_partitioned(
            src, dest, fmt,
            **({"header": "true"} if fmt == "csv" else {}),
            **({"rowTag": "row"} if fmt == "xml" else {}),
        )
        got = sorted(tuple(r) for r in reader(dest).collect())
        assert got == expected, fmt


def test_foreach_batch_parquet_sink_idempotent(spark, tmp_path):
    from stockpy_spark.streaming.ops import run_foreach_batch_to_parquet

    path, schema = _write_stream_input(spark, tmp_path)
    out_dir = str(tmp_path / "out")
    stream = file_stream(spark, path, schema).withColumn(
        "day", F.date_format("ts", "yyyyMMdd")
    )
    run_foreach_batch_to_parquet(
        stream, out_dir, str(tmp_path / "ckpt1"), ["day"]
    )
    first = spark.read.parquet(out_dir).count()
    assert first == 5
    # a fresh checkpoint replays everything; dynamic partition overwrite
    # must replace the day partitions, not append duplicates
    run_foreach_batch_to_parquet(
        file_stream(spark, path, schema).withColumn(
            "day", F.date_format("ts", "yyyyMMdd")
        ),
        out_dir,
        str(tmp_path / "ckpt2"),
        ["day"],
    )
    assert spark.read.parquet(out_dir).count() == 5


def test_foreach_batch_sink_detects_cross_batch_partition(spark, tmp_path):
    """A later batch touching a partition an earlier batch wrote must
    raise (partition-overwrite would silently drop the earlier rows) —
    and 'allow' opts into last-writer-wins."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from stockpy_spark.streaming.ops import run_foreach_batch_to_parquet

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "id int, day string"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 0: day=A; batch 1 (new file, same checkpoint): day=A again
    spark.createDataFrame([(1, "A")], schema).write.parquet(str(in_dir / "f0"))
    run_foreach_batch_to_parquet(
        file_stream(spark, str(in_dir / "*"), schema), out_dir, ckpt, ["day"]
    )
    assert spark.read.parquet(out_dir).count() == 1
    spark.createDataFrame([(2, "A")], schema).write.parquet(str(in_dir / "f1"))
    with pytest.raises(StreamingQueryException, match="would overwrite partition"):
        run_foreach_batch_to_parquet(
            file_stream(spark, str(in_dir / "*"), schema), out_dir, ckpt, ["day"]
        )
    # same stream with allow: last writer wins, documented semantics
    run_foreach_batch_to_parquet(
        file_stream(spark, str(in_dir / "*"), schema),
        out_dir,
        ckpt,
        ["day"],
        on_cross_batch_partition="allow",
    )
    assert [tuple(r) for r in spark.read.parquet(out_dir).collect()] == [(2, "A")]


def test_foreach_batch_pending_ledger_blocks_after_crash(spark, tmp_path):
    """Write-ahead ledger: a batch that crashed between the parquet
    write and its 'done' marker leaves partitions 'pending' — a LATER
    batch touching them must still error (the silent-overwrite window
    the ledger exists to close). Simulated by seeding a pending entry
    for a foreign batch id."""
    import json

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from stockpy_spark.streaming.ops import run_foreach_batch_to_parquet

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "id int, day string"
    out_dir = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    ledger_dir = ckpt / "partition_ledger"
    ledger_dir.mkdir(parents=True)
    # batch id 999 claimed day=A and "crashed" before marking done
    (ledger_dir / "ledger.json").write_text(
        json.dumps({"A": {"batch": 999, "state": "pending"}})
    )
    spark.createDataFrame([(1, "A")], schema).write.parquet(str(in_dir / "f0"))
    with pytest.raises(StreamingQueryException, match="pending"):
        run_foreach_batch_to_parquet(
            file_stream(spark, str(in_dir / "*"), schema), out_dir, str(ckpt), ["day"]
        )


def test_transform_news_fuzzy_drifted_columns(spark):
    """Schema drift: the scraper ships 'Published Date' / ' TITLE ' /
    'extracteddate' headers; fuzzy alignment must land them on the
    expected snake_case names instead of silently null-filling
    (reference transform_news_job.py:52-84)."""
    raw = spark.createDataFrame(
        [
            ("ITUB4", "t1", "l1", "G1", "2024-01-05T10:00:00", "2024-01-05"),
            ("BBDC4", "t2", "l2", "G1", "2024-01-04T10:00:00", "2024-01-05"),  # stale
        ],
        "`Ticker` string, ` TITLE ` string, `LINK` string, `source` string,"
        "`Published Date` string, `extracteddate` string",
    )
    out = transform_news(raw, "20240105")
    rows = {r.link: r for r in out.collect()}
    assert set(rows) == {"l1"}  # drifted date columns matched -> same-day filter worked
    r = rows["l1"]
    assert (r.ticker, r.title, r.source) == ("ITUB4", "t1", "G1")
    assert r.company is None and r.sector is None  # truly missing -> typed nulls


def test_align_to_columns_strict_mode_null_fills(spark):
    from pyspark.sql import types as T

    from stockpy_spark.operators import align_to_columns

    df = spark.createDataFrame([("a",)], "`Doc ID` string")
    strict = align_to_columns(df, {"doc_id": T.StringType()}, fuzzy=False)
    assert strict.collect()[0].doc_id is None
    fuzzy = align_to_columns(df, {"doc_id": T.StringType()})
    assert fuzzy.collect()[0].doc_id == "a"


def test_bmp_encode_decode_roundtrip():
    import numpy as np

    from stockpy_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (4, 4), (7, 11)]:  # odd widths exercise padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px), (h, w)


def test_decode_pixels_dispatch_and_seam():
    import numpy as np
    import pytest

    from stockpy_spark.operators.multimodal import (
        _decode_pixels,
        encode_bmp,
        encode_gif,
        encode_png,
    )

    from stockpy_spark.operators.jpeg import encode_jpeg

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    assert _decode_pixels(encode_bmp(px)).shape == (2, 2, 3)
    assert _decode_pixels(encode_png(px)).shape == (2, 2, 3)
    assert _decode_pixels(encode_gif(px)).shape == (2, 2, 3)
    assert _decode_pixels(encode_jpeg(px)).shape == (2, 2, 3)
    with pytest.raises(NotImplementedError, match="non-BMP/PNG/GIF/JPEG"):
        _decode_pixels(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_png_encode_decode_roundtrip():
    import numpy as np

    from stockpy_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (4, 4), (7, 11)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px), (h, w)


def test_png_decoder_unfilters_all_five_filter_types():
    """Build a PNG by hand with every scanline filter type (None, Sub,
    Up, Average, Paeth — applied per the spec, bpp=3) and check the
    decoder reconstructs the original pixels: proves the decoder handles
    third-party-encoded truecolor PNGs, not just our filter-0 output."""
    import struct
    import zlib

    import numpy as np

    from stockpy_spark.operators.multimodal import (
        PNG_SIGNATURE,
        _paeth,
        _png_chunk,
        decode_png,
    )

    rng = np.random.default_rng(13)
    h, w = 5, 6
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    flat = px.reshape(h, w * 3).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        f = y % 5
        prev = flat[y - 1] if y > 0 else np.zeros(w * 3, dtype=np.int32)
        line = np.empty(w * 3, dtype=np.int32)
        for x in range(w * 3):
            a = flat[y][x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            line[x] = (flat[y][x] - pred) % 256
        raw.append(f)
        raw.extend(line.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), px)


def test_gif_encode_decode_roundtrip():
    """Palette GIF roundtrip across the LZW edge cases: the KwKwK
    repeated-pattern code, multi-sub-block streams (>255 compressed
    bytes), variable code-width growth, the 4096-entry table reset, a
    single-color 2-entry palette, and the >256-color refusal."""
    import numpy as np
    import pytest

    from stockpy_spark.operators.multimodal import (
        _fake_pixels,
        decode_gif,
        encode_gif,
    )

    for i in (0, 1, 7, 42, 499):
        px = _fake_pixels(i)
        assert np.array_equal(decode_gif(encode_gif(px)), px), i

    # single color -> 1-bit palette, mcs clamped to the spec minimum 2
    px = np.full((5, 7, 3), 42, np.uint8)
    assert np.array_equal(decode_gif(encode_gif(px)), px)

    # KwKwK: aaab aaab ... forces the just-added-code emission path
    px = np.array(
        [[[1, 1, 1] if x % 4 != 3 else [2, 2, 2] for x in range(50)]] * 3,
        np.uint8,
    )
    assert np.array_equal(decode_gif(encode_gif(px)), px)

    # 200-color 120x100 image: multi-sub-block + code width growth
    y, x = np.mgrid[0:120, 0:100]
    v = ((y * 13 + x * 7) % 200).astype(np.uint8)
    px = np.stack([v, (v * 3) % 256, (v * 5 + 1) % 256], -1).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(px)), px)

    # 256-color noise at 300x300 overflows the 12-bit table -> CLEAR reset
    rng = np.random.default_rng(17)
    v = rng.integers(0, 256, (300, 300)).astype(np.uint8)
    px = np.stack([v, v, v], -1)
    assert np.array_equal(decode_gif(encode_gif(px)), px)

    # >256 distinct colors is a modeling error, not silent quantization
    px = np.zeros((20, 20, 3), np.uint8)
    px[:, :, 0] = (np.arange(400) % 256).reshape(20, 20)
    px[:, :, 1] = (np.arange(400) // 256 * 50).reshape(20, 20)
    with pytest.raises(ValueError, match="palette"):
        encode_gif(px)


def test_gif_decoder_skips_extensions_and_rejects_corruption():
    import numpy as np
    import pytest

    from stockpy_spark.operators.multimodal import decode_gif, encode_gif

    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    good = encode_gif(px)
    # image descriptor sits after header(6) + LSD(7) + 8-entry GCT(24)
    idx = 13 + 8 * 3
    assert good[idx] == 0x2C
    # splice a Graphic Control Extension (0x21 0xF9) before the image
    # descriptor, as real-world encoders emit
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    assert np.array_equal(decode_gif(good[:idx] + gce + good[idx:]), px)

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOPE" + good[4:])
    # truncating the index stream must not pass silently
    with pytest.raises((ValueError, IndexError)):
        decode_gif(good[: idx + 12])


def test_gif_animated_roundtrip_and_seams():
    """Animated GIF89a: every composited frame decodes bit-exact;
    single-frame payloads from the still encoder are a 1-frame
    animation; disposal 2 restores the rect to background; GCE
    transparency and disposal 3 composite correctly even when patched
    into a foreign payload (round 9 closed these former seams)."""
    import numpy as np
    import pytest

    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        _fake_pixels,
        decode_gif,
        decode_gif_frames,
        encode_gif,
        encode_gif_animated,
    )

    for i in (0, 3, 11, 499):
        frames = [_fake_frame(i, f) for f in range(i % 3 + 2)]
        payload = encode_gif_animated(frames)
        decoded = decode_gif_frames(payload)
        assert len(decoded) == len(frames), i
        for f, (a, b) in enumerate(zip(frames, decoded)):
            assert np.array_equal(a, b), (i, f)
        # the still decoder reads frame 0 of an animated payload
        assert np.array_equal(decode_gif(payload), frames[0]), i

    # still encoder -> 1-frame animation
    px = _fake_frame(7, 0)
    assert np.array_equal(decode_gif_frames(encode_gif(px))[0], px)

    # mismatched frame sizes refuse
    with pytest.raises(ValueError, match="screen size"):
        encode_gif_animated([_fake_pixels(0), _fake_pixels(1)])

    # disposal 2 (restore to background) zeroes the rect AFTER the
    # frame is emitted: patch the first GCE's packed byte (disposal
    # bits 2-4) from 0x04 (disposal 1) to 0x08 (disposal 2)
    frames = [_fake_frame(4, 0), np.full(_fake_frame(4, 0).shape, 9, np.uint8)]
    payload = bytearray(encode_gif_animated(frames))
    gce_at = payload.index(b"\x21\xf9\x04")
    assert payload[gce_at + 3] == 0x04
    payload[gce_at + 3] = 0x08
    decoded = decode_gif_frames(bytes(payload))
    assert np.array_equal(decoded[0], frames[0])
    assert np.array_equal(decoded[1], frames[1])  # full-rect repaint

    # transparency flag patched in: the GCE's transparent-index byte is
    # 0, so palette slot 0's pixels show the (black) canvas through
    payload[gce_at + 3] = 0x04 | 0x01
    decoded = decode_gif_frames(bytes(payload))
    _, inverse = np.unique(
        frames[0].reshape(-1, 3), axis=0, return_inverse=True
    )
    hole = (inverse == 0).reshape(frames[0].shape[:2])[:, :, None]
    assert np.array_equal(decoded[0], np.where(hole, 0, frames[0]))
    # disposal 3 (restore to previous): frame 0 renders, the canvas
    # reverts to pre-frame black, frame 1's full repaint is unaffected
    payload[gce_at + 3] = 0x0C
    decoded = decode_gif_frames(bytes(payload))
    assert np.array_equal(decoded[0], frames[0])
    assert np.array_equal(decoded[1], frames[1])


def test_extract_frame_features_sampling(spark):
    """Frame sampling keeps frames 0, k, 2k...; stats match the
    closed-form pattern per sampled frame."""
    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        attach_gif_anim_payload,
        extract_frame_features,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    assets = attach_gif_anim_payload(docs, "doc_id")
    out = extract_frame_features(assets, every_k=2).collect()
    got = {(r.doc_id, r.frame_id): r for r in out}
    import numpy as np

    expected_keys = set()
    for i in range(12):
        for f in range(i % 3 + 2):
            if f % 2 == 0:
                expected_keys.add((i, f))
    assert set(got) == expected_keys
    for (i, f), r in got.items():
        fr = _fake_frame(i, f).astype(np.int64)
        if f > 0:
            # round 9: frames f >= 1 carry checkerboard transparency
            # over the base frame (disposal 3 keeps the base current)
            h, w = fr.shape[:2]
            yy = np.arange(h).reshape(h, 1)
            xx = np.arange(w).reshape(1, w)
            hole = ((xx + yy + f) % 2 == 0)[:, :, None]
            fr = np.where(hole, _fake_frame(i, 0).astype(np.int64), fr)
        assert r.px_sum == int(fr.sum()), (i, f)
        assert r.width == i % 8 + 4 and r.height == i % 6 + 4


def test_png_decoder_rejects_corruption():
    import numpy as np
    import pytest

    from stockpy_spark.operators.multimodal import decode_png, encode_png

    good = bytearray(encode_png(np.zeros((3, 3, 3), dtype=np.uint8)))
    good[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError):
        decode_png(bytes(good))


def test_extract_pixel_features_via_real_decode(spark):
    from stockpy_spark.operators.multimodal import (
        _fake_pixels,
        attach_bmp_payload,
        extract_features,
        extract_pixel_features,
    )

    docs = spark.createDataFrame([(i,) for i in [0, 5, 13]], "doc_id long")
    assets = attach_bmp_payload(docs, "doc_id")
    feats = {r.doc_id: r for r in extract_pixel_features(assets).collect()}
    for i in [0, 5, 13]:
        px = _fake_pixels(i)
        r = feats[i]
        assert (r.width, r.height) == (px.shape[1], px.shape[0])
        assert r.px_sum == int(px.sum(dtype="int64"))
        assert r.media_type == "image/bmp"
    # use_codec=True now runs the real decoder over every payload
    assert extract_features(assets, use_codec=True).count() == 3


def test_stream_stream_join_watermarked(spark, tmp_path):
    """Watermarked stream-stream join with a time-range bound: matches
    inside the delay window join, matches outside it don't, and the
    plan carries watermarks on both sides (bounded state)."""
    from stockpy_spark.streaming.ops import stream_stream_join

    schema = "k string, ts timestamp"
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("b", "2024-01-01 00:00:00")], "k string, ts string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(str(imp_dir))
    spark.createDataFrame(
        [("a", "2024-01-01 00:10:00"),   # within 1 hour of the impression
         ("b", "2024-01-01 03:00:00")],  # too late — outside the range bound
        "k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(str(clk_dir))

    imps = file_stream(spark, str(imp_dir), schema).withColumnsRenamed(
        {"ts": "imp_ts"}
    )
    clicks = file_stream(spark, str(clk_dir), schema).withColumnsRenamed(
        {"ts": "click_ts"}
    )
    joined = stream_stream_join(
        imps, clicks, "k", "imp_ts", "click_ts",
        left_watermark="10 minutes", right_watermark="10 minutes",
        max_delay="1 hour",
    )
    run_to_memory(joined.select(imps["k"].alias("k"), "imp_ts", "click_ts"), "ssj")
    rows = spark.table("ssj").collect()
    assert [r.k for r in rows] == ["a"]  # b's click fell outside the window


def test_batch_hopping_rollup_matches_streaming_sliding_window(spark, tmp_path):
    """Batch/streaming parity for overlapping windows: the batch
    hopping_window_rollup (explode over covering starts,
    operators/timeseries.py) must produce the same (window, key, n,
    sum) set as Structured Streaming's F.window(ts, window, slide) over
    the same rows — same semantics, two execution models."""
    from stockpy_spark.operators.timeseries import hopping_window_rollup

    path, schema = _write_stream_input(spark, tmp_path)

    stream = file_stream(spark, path, schema)
    s_agg = windowed_agg(
        stream,
        "ts",
        ["etype"],
        "2 minutes",
        {"n": F.count(F.lit(1)), "total": F.sum("value")},
        slide="1 minute",
    )
    # update mode: append withholds windows the watermark hasn't closed
    # (the final event's two windows would be missing at end-of-stream)
    run_to_memory(s_agg, "hop_parity", output_mode="update")
    streaming = {
        (int(r.window_start.timestamp()), r.etype): (r.n, float(r.total))
        for r in spark.table("hop_parity").collect()
    }

    batch_df = spark.read.schema(schema).parquet(path)
    b_agg = hopping_window_rollup(batch_df, "ts", 120, 60, ["etype"], "value")
    batch = {
        (r.window_start, r.etype): (r.n, float(r.sum_v))
        for r in b_agg.collect()
    }
    assert batch == streaming and len(batch) >= 4


def test_stream_events_handles_directory_layout(spark, tmp_path):
    """Regression: a Spark-written events DIRECTORY (vs the driver's
    single-file fixture) must stream real batches — the symlink-a-file
    assumption silently produced zero batches on directory tables."""
    from stockpy_spark.registry.streaming import _stream_events
    from stockpy_spark.sources.testdata import read_events

    sf_dir = str(tmp_path / "sf")
    ev = read_events(spark, "/root/testdata/sf0.001").limit(200)
    # write as a multi-file DIRECTORY table
    ev.repartition(3).write.parquet(f"{sf_dir}/events.parquet")

    src = _stream_events(spark, sf_dir)
    sink = str(tmp_path / "sink")
    (
        src.select("event_id").writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert spark.read.parquet(sink).count() == 200


def test_tws_running_stats_batch_parity_or_documented_seam(spark, sf_dir):
    """transformWithStateInPandas (Spark-4 arbitrary state): when the
    protobuf dependency exists, final per-key state must equal the
    batch aggregate (same contract as stateful_running_stats); without
    it, the operator must fail fast with the documented message, not
    the opaque driver-worker crash."""
    import pytest

    from stockpy_spark.streaming.ops import tws_running_stats

    try:
        import google.protobuf  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False

    if not has_protobuf:
        from stockpy_spark.sources.testdata import read_events

        batch = read_events(spark, sf_dir)
        src = spark.readStream.schema(batch.schema).parquet(sf_dir)
        with pytest.raises(ImportError, match="protobuf"):
            tws_running_stats(src, "user_id", "value", "ts")
        return

    from stockpy_spark.registry.streaming import q_stream_tws_stats
    from stockpy_spark.registry.streaming import q_stream_running_stats

    got = {
        r.user_id: (r.n_events, r.sum_value, r.max_value)
        for r in q_stream_tws_stats(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value, r.max_value)
        for r in q_stream_running_stats(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_cdc_merge_multi_batch_latest_wins(spark, tmp_path):
    """CDC-apply sink: with batches forced to split (maxFilesPerTrigger=1)
    and the newer row arriving in the EARLIER batch, the final table is
    still the global per-key argmax — update-only-if-newer semantics."""
    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    rows1 = [(10, "u1", 9.0, "2024-01-02 00:00:00")]   # newest u1, arrives first
    rows2 = [(5, "u1", 1.0, "2024-01-01 00:00:00"),    # older u1 must NOT win
             (6, "u2", 2.0, "2024-01-01 00:00:00")]
    schema_s = "event_id long, user string, value double, ts_s string"
    src = str(tmp_path / "cdc_src")
    for rows in (rows1, rows2):
        (spark.createDataFrame(rows, schema_s)
         .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
         .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "cdc_table")
    run_cdc_merge_to_parquet(
        stream, table, str(tmp_path / "cdc_ckpt"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    got = {r.user: (r.event_id, r.value) for r in spark.read.parquet(table).collect()}
    assert got == {"u1": (10, 9.0), "u2": (6, 2.0)}


def test_cdc_merge_recovers_after_pointer_loss(spark, tmp_path):
    """Atomicity seam (round-8 ADVICE): if the table pointer vanishes
    mid-crash but a committed snapshot survives, a sink restart must
    re-link the snapshot and KEEP prior keys rather than silently
    rebuilding from the replayed batch only."""
    import os

    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    schema_s = "event_id long, user string, value double, ts_s string"
    src1 = str(tmp_path / "cdc_src1")
    (spark.createDataFrame([(1, "u1", 5.0, "2024-01-01 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("append").parquet(src1))
    schema = spark.read.parquet(src1).schema
    table = str(tmp_path / "cdc_table")
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src1),
        table, str(tmp_path / "cdc_ckpt1"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    assert os.path.islink(table)
    # Simulate the fatal window of the old two-rename swap: the live
    # pointer is gone, only the committed snapshot directory remains.
    snap = os.path.realpath(table)
    os.remove(table)
    assert not os.path.exists(table) and os.path.isdir(snap)
    # Restart the sink on a NEW source+checkpoint carrying only u2;
    # u1 must survive via pointer recovery, not via batch replay.
    src2 = str(tmp_path / "cdc_src2")
    (spark.createDataFrame([(2, "u2", 7.0, "2024-01-02 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("append").parquet(src2))
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src2),
        table, str(tmp_path / "cdc_ckpt2"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    got = {r.user: (r.event_id, r.value) for r in spark.read.parquet(table).collect()}
    assert got == {"u1": (1, 5.0), "u2": (2, 7.0)}


def test_cdc_merge_migrates_plain_directory_table(spark, tmp_path):
    """A pre-pointer plain-directory table is absorbed as the base
    snapshot on the first batch instead of breaking the pointer flip."""
    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    schema_s = "event_id long, user string, value double, ts_s string"
    table = str(tmp_path / "cdc_table")
    (spark.createDataFrame([(1, "u1", 5.0, "2024-01-01 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("overwrite").parquet(table))
    src = str(tmp_path / "cdc_src")
    (spark.createDataFrame([(2, "u2", 7.0, "2024-01-02 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src),
        table, str(tmp_path / "cdc_ckpt"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    got = {r.user: (r.event_id, r.value) for r in spark.read.parquet(table).collect()}
    assert got == {"u1": (1, 5.0), "u2": (2, 7.0)}


def test_cdc_merge_never_overwrites_live_snapshot(spark, tmp_path):
    """Round-8 ADVICE high: a fresh-checkpoint restart reuses batch_id
    0, so the naive snapshot name equals the LIVE snapshot — writing
    there deletes the merge's own input files mid-job (empirically
    fatal with AQE off). The sink must write a differently-named
    snapshot and keep both keys, with adaptive execution DISABLED so
    nothing accidentally materializes the read first."""
    import os

    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    schema_s = "event_id long, user string, value double, ts_s string"

    def write_src(path, rows):
        (spark.createDataFrame(rows, schema_s)
         .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
         .coalesce(1).write.mode("append").parquet(path))
        return spark.read.parquet(path).schema

    table = str(tmp_path / "cdc_table")
    src1 = str(tmp_path / "src1")
    schema = write_src(src1, [(1, "u1", 5.0, "2024-01-01 00:00:00")])
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src1),
        table, str(tmp_path / "ckpt1"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    snap_before = os.path.realpath(table)
    src2 = str(tmp_path / "src2")
    write_src(src2, [(2, "u2", 7.0, "2024-01-02 00:00:00")])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # fresh checkpoint -> batch_id restarts at 0 == the live snap's id
        run_cdc_merge_to_parquet(
            spark.readStream.schema(schema).parquet(src2),
            table, str(tmp_path / "ckpt2"),
            keys=["user"], order_cols=["ts", "event_id"],
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert os.path.realpath(table) != snap_before
    got = {r.user: r.value for r in spark.read.parquet(table).collect()}
    assert got == {"u1": 5.0, "u2": 7.0}


def test_cdc_merge_recovers_from_legacy_old_dir_without_success(spark, tmp_path):
    """Round-8 ADVICE low: the legacy two-rename sink's crash leaves
    the prior table only in .old-{batch_id} — with NO _SUCCESS if the
    committer's marksuccessfuljobs was disabled. Recovery must accept
    it (a renamed-away live table is complete by construction) and the
    next commit must clean the stale .old-* up."""
    import os

    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    schema_s = "event_id long, user string, value double, ts_s string"
    table = str(tmp_path / "cdc_table")
    old_dir = table + ".old-3"
    (spark.createDataFrame([(1, "u1", 5.0, "2024-01-01 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("overwrite").parquet(old_dir))
    success = os.path.join(old_dir, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    assert not os.path.exists(table)
    src = str(tmp_path / "src")
    (spark.createDataFrame([(2, "u2", 7.0, "2024-01-02 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src),
        table, str(tmp_path / "ckpt"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    got = {r.user: r.value for r in spark.read.parquet(table).collect()}
    assert got == {"u1": 5.0, "u2": 7.0}   # u1 via .old-* recovery
    assert not os.path.exists(old_dir)     # stale legacy dir cleaned


def test_cdc_merge_table_path_with_glob_metacharacters(spark, tmp_path):
    """Round-8 ADVICE low: a table path containing glob metacharacters
    ([, ?, *) used to make the Python-side recovery/cleanup glob
    patterns silently match nothing (snapshots accumulate unbounded).
    The scandir-based listing must still see siblings: a stale
    uncommitted .tmp-* dir beside the weird path is skipped by
    recovery (no commit marker) and removed by the first commit's
    cleanup. Spark reads go through a clean alias symlink because
    Hadoop ALSO globs read paths — the weird path is exercised only on
    the Python side, which is where the bug lived."""
    import os

    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    schema_s = "event_id long, user string, value double, ts_s string"
    weird_parent = tmp_path / "run[7]"
    weird_parent.mkdir()
    table = str(weird_parent / "cdc_table")
    stale_tmp = table + ".tmp-9"
    os.makedirs(stale_tmp)
    with open(os.path.join(stale_tmp, "junk.parquet"), "w") as f:
        f.write("half-written")
    src = str(tmp_path / "src")
    (spark.createDataFrame([(1, "u1", 5.0, "2024-01-01 00:00:00")], schema_s)
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    run_cdc_merge_to_parquet(
        spark.readStream.schema(schema).parquet(src),
        table, str(tmp_path / "ckpt"),
        keys=["user"], order_cols=["ts", "event_id"],
    )
    # recovery did NOT link the uncommitted tmp; a fresh snapshot was
    # written and the stale tmp was cleaned up
    assert os.path.islink(table)
    assert not os.path.exists(stale_tmp)
    leftovers = [
        e.name for e in os.scandir(weird_parent)
        if e.name.startswith("cdc_table.")
        and e.is_dir(follow_symlinks=False)
    ]
    assert len(leftovers) == 1, leftovers  # only the live snapshot
    alias = str(tmp_path / "alias_table")
    os.symlink(os.path.realpath(table), alias)
    got = {r.user: r.value for r in spark.read.parquet(alias).collect()}
    assert got == {"u1": 5.0}


def test_gif_transparency_and_disposal3_compositing():
    """Full GIF89a compositing model (round-9, closes the r7 codec
    seam): transparent pixels show the prior canvas through; disposal 3
    restores the canvas to its pre-frame state, so frame f's holes show
    the BASE frame, never frame f-1's pattern."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        decode_gif_frames,
        encode_gif_animated,
    )

    for i in (0, 1, 5, 7, 23):
        nf = i % 3 + 2
        h, w = i % 6 + 4, i % 8 + 4
        yy = np.arange(h).reshape(h, 1)
        xx = np.arange(w).reshape(1, w)
        masks = [None] + [(xx + yy + f) % 2 == 0 for f in range(1, nf)]
        payload = encode_gif_animated(
            [_fake_frame(i, f) for f in range(nf)],
            transparent_masks=masks,
            disposals=[1] + [3] * (nf - 1),
        )
        frames = decode_gif_frames(payload)
        assert len(frames) == nf
        base = _fake_frame(i, 0)
        assert (frames[0] == base).all()
        for f in range(1, nf):
            hole = ((xx + yy + f) % 2 == 0)[:, :, None]
            want = np.where(hole, base, _fake_frame(i, f))
            # a do-not-dispose bug would leave frame f-1's pattern in
            # frame f's holes instead of the base
            assert (frames[f] == want).all(), (i, f)


def test_gif_disposal2_restores_background_between_frames():
    """Disposal 2 blanks the rect to background (black) before the next
    frame; a following transparent frame's holes must show BLACK."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_animated,
    )

    h = w = 6
    f0 = np.full((h, w, 3), 200, np.uint8)
    f1 = np.full((h, w, 3), 50, np.uint8)
    yy = np.arange(h).reshape(h, 1)
    xx = np.arange(w).reshape(1, w)
    hole = (xx + yy) % 2 == 0
    payload = encode_gif_animated(
        [f0, f1], transparent_masks=[None, hole], disposals=[2, 1]
    )
    frames = decode_gif_frames(payload)
    assert (frames[0] == f0).all()
    want = np.where(hole[:, :, None], np.zeros_like(f1), f1)
    assert (frames[1] == want).all()


def test_late_accounting_three_wave_drop_semantics(spark, tmp_path):
    """The eighth streaming class (round 9): observe() ingest metering
    + numRowsDroppedByWatermark + sink content under one audit row.
    Pins the MEASURED Spark 4 semantics: the late-record filter runs
    one batch behind the eviction watermark, so wave 2 (late-but-
    within-lag) is accepted and wave 3 is refused; the drop counter
    counts distinct (window, key) groups, not raw rows (the filter
    sits after the map-side partial aggregate)."""
    from stockpy_spark.streaming.ops import run_windowed_late_accounting

    def wave(rows):
        return (
            spark.createDataFrame(rows, "ts_s string, k string")
            .select(F.to_timestamp("ts_s").alias("ts"), "k")
        )

    w1 = wave([("2024-01-10 12:00:00", "a"), ("2024-01-10 12:30:00", "b")])
    w2 = wave([("2024-01-09 23:30:00", "a")])           # late, within lag
    w3 = wave([("2024-01-01 00:10:00", "a"),            # deep-late: same
               ("2024-01-01 00:20:00", "a"),            # window, 1 group
               ("2024-01-02 05:00:00", "b")])           # 2nd group
    out = run_windowed_late_accounting(
        spark, [w1, w2, w3], "ts", "k", "1 hour", "1 hour"
    ).collect()[0]
    assert out.n_input == 6
    assert out.n_on_time == 3          # waves 1+2 reached state
    assert out.n_late_rows == 3        # wave 3, raw rows
    assert out.n_dropped_groups == 2   # wave 3 collapsed to 2 groups
    assert out.n_windows == 3          # (12h,a) (12h,b) (23h,a)


def test_gif_interlaced_roundtrip():
    """Four-pass interlaced index streams (round 9, last native GIF
    seam): the encoder writes the appendix-E row order with the flag
    set; both decoders scatter it back. Odd heights exercise the
    pass-boundary arithmetic."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_pixels,
        _gif_interlace_order,
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    for h in (1, 2, 3, 7, 8, 9, 23):
        order = _gif_interlace_order(h)
        assert sorted(order.tolist()) == list(range(h))
    for i in (0, 1, 5, 13, 499):
        px = _fake_pixels(i)
        payload = encode_gif(px, interlace=True)
        assert np.array_equal(decode_gif(payload), px)
        frames = decode_gif_frames(payload)
        assert len(frames) == 1 and np.array_equal(frames[0], px)


def test_png_adam7_interlaced_roundtrip_and_foreign_filters():
    """Adam7 interlaced PNGs (round 9, the PNG twin of the GIF
    interlace seam): seven independently-filtered passes scattered by
    the pass grid. Roundtrip covers edge shapes where passes are
    EMPTY (spec: absent from the stream); the hand-built payload uses
    Sub/Up filters inside passes to prove the per-pass unfilter
    doesn't assume our own filter-0 output."""
    import struct
    import zlib

    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _ADAM7,
        _adam7_pass_dims,
        _fake_pixels,
        _png_chunk,
        PNG_SIGNATURE,
        decode_png,
        encode_png,
    )

    for h in (1, 3, 8, 23):
        for w in (1, 5, 8):
            assert sum(
                _adam7_pass_dims(h, w, p)[0] * _adam7_pass_dims(h, w, p)[1]
                for p in range(7)
            ) == h * w
    for i in (0, 1, 13, 499):
        px = _fake_pixels(i)
        assert np.array_equal(decode_png(encode_png(px, interlace=True)), px)
    for shape in ((1, 1), (1, 9), (9, 1), (3, 5)):
        px = np.arange(
            shape[0] * shape[1] * 3, dtype=np.uint8
        ).reshape(shape[0], shape[1], 3)
        assert np.array_equal(decode_png(encode_png(px, interlace=True)), px)

    # foreign-filter stream: Sub on even pass rows, Up on odd
    px = _fake_pixels(13)
    h, w, _ = px.shape
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = px[y0::dy, x0::dx].astype(np.int32)
        hp, wp = sub.shape[0], sub.shape[1]
        if hp == 0 or wp == 0:
            continue
        flat = sub.reshape(hp, wp * 3)
        prev = np.zeros(wp * 3, dtype=np.int32)
        for y in range(hp):
            line = flat[y]
            if y % 2:
                f, enc = 2, (line - prev) & 0xFF
            else:
                shifted = np.zeros_like(line)
                shifted[3:] = line[:-3]
                f, enc = 1, (line - shifted) & 0xFF
            parts.append(bytes([f]) + bytes(enc.astype(np.uint8)))
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    payload = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), px)


def test_wav_widths_and_channels_roundtrip():
    """PCM WAV beyond 16-bit mono (round 9): 8-bit (unsigned storage,
    signed recenter), packed 24-bit with manual sign extension, 32-bit,
    and interleaved stereo all roundtrip; the original 16-bit-mono
    contract (1-D int16) is unchanged."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_samples,
        decode_wav,
        encode_wav,
    )

    s = _fake_samples(13)
    out, rate = decode_wav(encode_wav(s))
    assert out.dtype == np.int16 and out.ndim == 1
    assert np.array_equal(out, s)

    s8 = np.array([-128, -1, 0, 1, 127], dtype=np.int16)
    assert np.array_equal(decode_wav(encode_wav(s8, sampwidth=1))[0], s8)

    s24 = np.array([-(1 << 23), -1, 0, 1, (1 << 23) - 1], dtype=np.int32)
    out24 = decode_wav(encode_wav(s24, sampwidth=3))[0]
    assert out24.dtype == np.int32 and np.array_equal(out24, s24)

    stereo = np.stack([s24, s24[::-1]], axis=1)
    out_st = decode_wav(encode_wav(stereo, sampwidth=4))[0]
    assert out_st.shape == stereo.shape and np.array_equal(out_st, stereo)


def test_blob_shard_pack_and_slice_roundtrip(spark, tmp_path):
    """Pointer-to-blob storage (round 9): payloads pack into few large
    shard files + a (uri, offset, length) index; slicing the shards
    restores every payload byte-for-byte; shard count and total bytes
    match the index's own accounting."""
    import os

    from stockpy_spark.operators.multimodal import (
        attach_png_payload,
        pack_blob_shards,
        read_blob_slices,
    )

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    assets = attach_png_payload(docs, "doc_id")
    direct = {r.doc_id: bytes(r.payload) for r in assets.collect()}
    out_dir = str(tmp_path / "shards")
    index = pack_blob_shards(assets, "doc_id", out_dir, n_shards=3)
    idx_rows = index.collect()
    assert len(idx_rows) == 40
    shards = sorted(os.listdir(out_dir))
    assert len(shards) == 3 and all(s.startswith("shard-") for s in shards)
    assert not any(".tmp-" in s for s in shards)  # renames completed
    # index lengths account for every shard byte exactly
    by_uri = {}
    for r in idx_rows:
        by_uri.setdefault(r.uri, []).append(r)
    for uri, rows in by_uri.items():
        assert os.path.getsize(uri) == sum(r.length for r in rows)
        spans = sorted((r.offset, r.length) for r in rows)
        pos = 0
        for off, ln in spans:  # contiguous, no gaps or overlaps
            assert off == pos
            pos += ln
    restored = {
        r.doc_id: bytes(r.payload)
        for r in read_blob_slices(index).collect()
    }
    assert restored == direct


def test_ahash_bits_hand_computed():
    """Pins the aHash executable spec (operators/imagehash.ahash_bits):
    constant images hash to all-zero bits (strict > threshold), a
    half-bright image sets exactly the bright half, and nearest-
    neighbor grid sampling maps a 4x4 source onto the 8x8 lattice by
    index duplication, never interpolation."""
    import numpy as np

    from stockpy_spark.operators.imagehash import ahash_bits

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    assert ahash_bits(flat).sum() == 0  # lum*64 > total is never strict

    half = np.zeros((8, 8, 3), dtype=np.uint8)
    half[:, 4:, :] = 200
    bits = ahash_bits(half).reshape(8, 8)
    assert bits[:, 4:].all() and not bits[:, :4].any()

    # 4x4 source: grid index (g*4)//8 duplicates each source cell 2x2,
    # so the single bright source pixel (0,0) covers grid cells
    # {0,1}x{0,1} and only those.
    small = np.zeros((4, 4, 3), dtype=np.uint8)
    small[0, 0, :] = 255
    bits = ahash_bits(small).reshape(8, 8)
    assert bits[:2, :2].all() and bits.sum() == 4


def test_ahash_near_pairs_band_blocking(spark):
    """Drives the full decode -> hash -> band-pigeonhole pair path on
    hand-built BMPs: a one-cell perturbation is found at hamming 1, an
    exact duplicate at 0, and the complement image (all 4 bands differ)
    is never even a candidate."""
    import numpy as np

    from stockpy_spark.operators.imagehash import (
        ahash_near_pairs,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import encode_bmp

    a = np.zeros((8, 8, 3), dtype=np.uint8)
    a[:, 4:, :] = 200
    b = a.copy()
    b[0, 0, :] = 200  # one extra bright cell -> hamming 1 vs a
    c = 200 - a  # complement: every band differs
    d = a.copy()  # exact duplicate -> hamming 0 vs a

    assets = spark.createDataFrame(
        [(i + 1, bytearray(encode_bmp(px))) for i, px in enumerate((a, b, c, d))],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in ahash_near_pairs(perceptual_ahash(assets), max_hamming=2).collect()
    }
    assert pairs == {(1, 2): 1, (1, 4): 0, (2, 4): 1}


def test_ahash_dedup_components_transitive(spark):
    """The image-dedup composition: phash near pairs closed under
    connectivity. Images 1, 2, 4 are pairwise near-dups (one
    component, min-id representative 1); the complement image 3 is its
    own singleton component."""
    import numpy as np

    from stockpy_spark.operators.graph import dedup_components
    from stockpy_spark.operators.imagehash import (
        ahash_near_pairs,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import encode_bmp

    a = np.zeros((8, 8, 3), dtype=np.uint8)
    a[:, 4:, :] = 200
    b = a.copy()
    b[0, 0, :] = 200
    c = 200 - a
    d = a.copy()
    assets = spark.createDataFrame(
        [(i + 1, bytearray(encode_bmp(px))) for i, px in enumerate((a, b, c, d))],
        "doc_id long, payload binary",
    )
    comp = dedup_components(
        assets.select("doc_id"),
        ahash_near_pairs(perceptual_ahash(assets), max_hamming=2),
    )
    rows = {r["doc_id"]: r for r in comp.collect()}
    assert {k: v["component"] for k, v in rows.items()} == {1: 1, 2: 1, 3: 3, 4: 1}
    assert {k: v["is_representative"] for k, v in rows.items()} == {
        1: True, 2: False, 3: True, 4: False,
    }


def test_stream_cm_grid_merge_equals_batch_grid(spark, tmp_path):
    """The mergeable-sketch contract under the real micro-batch engine
    (streaming/ops.py run_cm_grid_accumulate): three arrival files
    streamed one per trigger produce >= 2 distinct foreachBatch ids,
    and the cell-wise-summed grid is IDENTICAL to the grid built over
    the union in one batch pass."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import cm_partial_grid
    from stockpy_spark.streaming.ops import run_cm_grid_accumulate

    rows = [(i, f"u{i % 7}") for i in range(120)]
    df = spark.createDataFrame(rows, "i long, k string")
    src = str(tmp_path / "src")
    for w in range(3):
        df.where(F.col("i") % 3 == w).select("k").coalesce(1).write.parquet(
            f"{src}/wave{w}.parquet"
        )
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    merged = run_cm_grid_accumulate(
        spark, stream, "k",
        str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        depth=3, width=16,
    )
    batch_ids = (
        spark.read.parquet(str(tmp_path / "sink"))
        .select("batch_id").distinct().count()
    )
    assert batch_ids >= 2, "maxFilesPerTrigger=1 must split the stream"

    canon = lambda g: sorted(
        (r["j"], r["b"], r["c"]) for r in g.collect()
    )
    assert canon(merged) == canon(cm_partial_grid(df, "k", depth=3, width=16))


def test_ahash_dedup_components_star_path_equals_pair_path(spark):
    """The scale path (ahash_dedup_components: identical-hash star
    edges + rep-level hamming pairs) must produce the identical
    component assignment as CC over the full member-level pair
    enumeration — including duplicates of duplicates (4 copies of one
    image) and a near-dup bridging two identical-hash groups."""
    import numpy as np

    from stockpy_spark.operators.graph import dedup_components
    from stockpy_spark.operators.imagehash import (
        ahash_dedup_components,
        ahash_near_pairs,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import encode_bmp

    a = np.zeros((8, 8, 3), dtype=np.uint8)
    a[:, 4:, :] = 200
    b = a.copy()
    b[0, 0, :] = 200  # near-dup of a (hamming 1)
    c = 200 - a  # unrelated
    imgs = [a, a, a, a, b, b, c]  # two identical-hash groups + isolate
    assets = spark.createDataFrame(
        [(i + 1, bytearray(encode_bmp(px))) for i, px in enumerate(imgs)],
        "doc_id long, payload binary",
    )
    hashes = perceptual_ahash(assets)
    docs = assets.select("doc_id")
    canon = lambda df: sorted(
        (r["doc_id"], r["component"], r["is_representative"])
        for r in df.collect()
    )
    star = canon(ahash_dedup_components(docs, hashes, max_hamming=2))
    pairs = canon(
        dedup_components(docs, ahash_near_pairs(hashes, max_hamming=2))
    )
    assert star == pairs
    # a-copies (1-4) + b-copies (5-6) bridge into one component, rep 1
    assert star[0] == (1, 1, True) and star[5] == (6, 1, False)


def test_equalize_lum_hand_computed():
    """Pins the integer equalization formula (multimodal.equalize_lum):
    a two-level image maps its levels to the exact OpenCV floor-divide
    outputs, a constant image maps to all zeros, and a full-spread
    image keeps 0 and 255 at the extremes."""
    import numpy as np

    from stockpy_spark.operators.multimodal import equalize_lum

    def gray(vals):
        a = np.array(vals, dtype=np.uint8)
        return np.repeat(a[:, :, None], 3, axis=2)

    # 2x2: lums [10, 10, 200, 200]; cdf(10)=2=cdf_min, cdf(200)=4, n=4
    # out(10) = 0; out(200) = ((4-2)*255)//(4-2) = 255
    eq = equalize_lum(gray([[10, 10], [200, 200]]))
    assert eq.tolist() == [[0, 0], [255, 255]]

    assert equalize_lum(gray([[7, 7], [7, 7]])).sum() == 0  # constant

    # 1x4 lums [0, 1, 2, 3]: cdf [1,2,3,4], cdf_min=1, n=4 ->
    # out = [0, 85, 170, 255]
    eq = equalize_lum(gray([[0, 1, 2, 3]]))
    assert eq.tolist() == [[0, 85, 170, 255]]


def test_stream_blob_ingest_batches_isolated_and_bytes_exact(spark, tmp_path):
    """The streaming shard ingester (streaming/ops.py
    run_blob_shard_ingest): three arrival files produce >= 2 distinct
    per-batch shard directories (batch isolation — shard names are
    partition-derived, so reuse of one dir would overwrite), and every
    payload pointer-slices back byte-exact across batch boundaries."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.multimodal import read_blob_slices
    from stockpy_spark.streaming.ops import run_blob_shard_ingest

    payloads = {i: bytes([i % 251]) * (i + 3) for i in range(30)}
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "doc_id long, payload binary",
    )
    src = str(tmp_path / "src")
    for w in range(3):
        df.where(F.col("doc_id") % 3 == w).coalesce(1).write.parquet(
            f"{src}/wave{w}.parquet"
        )
    stream = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    index = run_blob_shard_ingest(
        spark, stream, "doc_id",
        str(tmp_path / "shards"), str(tmp_path / "index"),
        str(tmp_path / "ckpt"), n_shards=2,
    )
    import os

    batch_dirs = [d for d in os.listdir(tmp_path / "shards") if d.startswith("batch-")]
    assert len(batch_dirs) >= 2, "maxFilesPerTrigger=1 must split ingestion"
    restored = {
        r["doc_id"]: bytes(r["payload"])
        for r in read_blob_slices(index).collect()
    }
    assert restored == payloads


def test_stream_sinks_dedupe_replayed_batches_at_read_time(spark, tmp_path):
    """foreachBatch is at-least-once (round-10 advice): a batch
    retried after its parquet append but before the checkpoint commit
    leaves a second copy of that batch's rows. Simulate the replay by
    re-appending one batch's rows to each sink and assert the
    read-time views (merged_cm_grid, read_pointer_index) are
    unchanged — the duplicate append is collapsed, not double-counted."""
    from pyspark.sql import functions as F

    from stockpy_spark.streaming.ops import (
        merged_cm_grid,
        read_pointer_index,
        run_blob_shard_ingest,
        run_cm_grid_accumulate,
    )

    rows = [(i, f"u{i % 5}") for i in range(60)]
    df = spark.createDataFrame(rows, "i long, k string")
    src = str(tmp_path / "src")
    for w in range(2):
        df.where(F.col("i") % 2 == w).select("k").coalesce(1).write.parquet(
            f"{src}/wave{w}.parquet"
        )
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    sink = str(tmp_path / "sink")
    merged = run_cm_grid_accumulate(
        spark, stream, "k", sink, str(tmp_path / "ckpt"), depth=3, width=16
    )
    canon = lambda g: sorted((r["j"], r["b"], r["c"]) for r in g.collect())
    before = canon(merged)
    # replay: batch 0's partial grid lands in the sink a second time
    replay = spark.read.parquet(sink).where(F.col("batch_id") == 0)
    assert replay.count() > 0
    replay.write.mode("append").parquet(sink)
    assert canon(merged_cm_grid(spark, sink)) == before

    payloads = {i: bytes([i % 251]) * (i + 3) for i in range(12)}
    bdf = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "doc_id long, payload binary",
    )
    bsrc = str(tmp_path / "bsrc")
    for w in range(2):
        bdf.where(F.col("doc_id") % 2 == w).coalesce(1).write.parquet(
            f"{bsrc}/wave{w}.parquet"
        )
    bstream = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{bsrc}/*/*.parquet")
    )
    index_dir = str(tmp_path / "index")
    index = run_blob_shard_ingest(
        spark, bstream, "doc_id",
        str(tmp_path / "shards"), index_dir,
        str(tmp_path / "bckpt"), n_shards=2,
    )
    assert index.count() == 12
    raw = spark.read.parquet(index_dir)
    raw.limit(4).write.mode("append").parquet(index_dir)  # replayed rows
    deduped = read_pointer_index(spark, index_dir, "doc_id")
    assert deduped.count() == 12

    from stockpy_spark.operators.multimodal import read_blob_slices

    restored = {
        r["doc_id"]: bytes(r["payload"])
        for r in read_blob_slices(deduped).collect()
    }
    assert restored == payloads


def _write_waves(spark, df, wave_ids: list[list[int]], landing: str):
    """Write one parquet file per wave with PINNED ascending mtimes so
    the file source replays them in order (arrival order matters for
    the admitter, unlike the additive CM sink)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(landing, exist_ok=True)
    for w, ids in enumerate(wave_ids):
        tmp = os.path.join(landing, f"__w{w}")
        df.where(F.col("doc_id").isin(ids)).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"batch-{w}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))


def test_stream_minhash_admitter_first_arrival_and_batch_parity(spark, tmp_path):
    """The 11th streaming class (run_incremental_minhash_admitter).
    Hand-built waves pin each admission stage ACROSS micro-batches:
    an exact dup of a corpus doc is rejected at the fingerprint stage,
    a token-reordered doc (identical token set => identical minhash
    bands) at the band stage, a within-wave exact dup keeps the min
    id, and a LATER wave's doc is rejected against an EARLIER wave's
    admission — first-arrival-wins, which genuinely differs from the
    batch operator's min-id rule when arrivals are not id-monotone
    (asserted both ways)."""
    from stockpy_spark.operators.dedup import incremental_dedup_admit
    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "standing corpus only text")],
        "doc_id long, text string",
    )
    rows = [
        (11, "delta epsilon zeta"),            # fresh -> admitted (wave 0)
        (13, "alpha beta gamma"),              # exact dup of corpus -> out
        (14, "gamma beta alpha"),              # LSH dup of corpus -> out
        (15, "one two three"),                 # fresh -> admitted (wave 0)
        (16, "pairwise duplicate text"),       # within-wave exact dup:
        (17, "pairwise duplicate text"),       #   min id 16 admitted
        (5, "three two one"),                  # wave 1: LSH dup of 15 -> out
        (21, "delta epsilon zeta"),            # wave 2: exact dup of 11 -> out
        (22, "genuinely novel final wave doc"),  # fresh -> admitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [[11, 13, 14, 15, 16, 17], [5], [21, 22]], landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    admitted = run_incremental_minhash_admitter(
        spark, stream, corpus, "text", "doc_id",
        str(tmp_path / "state"), str(tmp_path / "ckpt"),
    )
    got = sorted(r["doc_id"] for r in admitted.collect())
    assert got == [11, 15, 16, 22]  # 5 lost to 15: first arrival wins

    # the batch operator on the SAME union keeps min-id instead: doc 5
    # (smaller id, later arrival) displaces 15
    batch_got = sorted(
        r["doc_id"]
        for r in incremental_dedup_admit(df, corpus, "text", "doc_id").collect()
    )
    assert batch_got == [5, 11, 16, 22]

    # id-monotone arrivals: sequential == batch (the parity the
    # registered query's oracle replays)
    landing2 = str(tmp_path / "landing2")
    _write_waves(spark, df, [[5, 11, 13], [14, 15, 16], [17, 21, 22]], landing2)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing2)
    )
    admitted2 = run_incremental_minhash_admitter(
        spark, stream2, corpus, "text", "doc_id",
        str(tmp_path / "state2"), str(tmp_path / "ckpt2"),
    )
    # waves are id-monotone per duplicate group (5<15, 11<21, 16<17),
    # so first-arrival == min-id
    assert sorted(r["doc_id"] for r in admitted2.collect()) == batch_got

    # replay safety: state rows are batch_id-tagged; re-appending a
    # batch's admitted rows does not change the read-time view
    import pyspark.sql.functions as F

    adm_dir = str(tmp_path / "state" / "admitted")
    raw = spark.read.parquet(adm_dir)
    assert set(r["batch_id"] for r in raw.select("batch_id").distinct().collect()) <= {0, 1, 2}
    raw.where(F.col("batch_id") == 0).write.mode("append").parquet(adm_dir)
    replayed = (
        spark.read.parquet(adm_dir).dropDuplicates(["doc_id"]).drop("batch_id")
    )
    assert sorted(r["doc_id"] for r in replayed.collect()) == got


def test_stream_minhash_admitter_resumes_across_runs(spark, tmp_path):
    """Continuous-ingestion contract: arrivals spread across SEPARATE
    availableNow runs (same checkpoint + state dirs — the restart
    path) must admit exactly what a single run over all waves admits.
    Run 1 sees only wave 0; waves 1-2 then land and run 2 resumes from
    the checkpoint — batch ids continue, earlier admissions still
    screen, nothing is re-processed."""
    from pyspark.sql import functions as F

    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = [
        (11, "delta epsilon zeta"),
        (14, "gamma beta alpha"),          # LSH dup of corpus -> out
        (15, "one two three"),
        (5, "three two one"),              # wave 1: LSH dup of 15 -> out
        (21, "delta epsilon zeta"),        # wave 2: exact dup of 11 -> out
        (22, "late novel document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    _write_waves(spark, df, [[11, 14, 15]], landing)
    stream = lambda: (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    first = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt
    )
    assert sorted(r["doc_id"] for r in first.collect()) == [11, 15]

    # waves 1-2 land later; resume from the SAME checkpoint/state
    import glob
    import os
    import shutil

    for w, ids in enumerate([[5], [21, 22]], start=1):
        tmp = os.path.join(landing, f"__w{w}")
        df.where(F.col("doc_id").isin(ids)).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"batch-{w}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))

    second = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt
    )
    got = sorted(r["doc_id"] for r in second.collect())
    assert got == [11, 15, 22]  # 5 rejected by 15's standing keys,
    # 21 by 11's standing fingerprint — admissions from run 1 screened
    # run 2's arrivals across the restart

    # and the state ledger shows continued batch ids, no re-appends
    adm = spark.read.parquet(os.path.join(state, "admitted"))
    per_batch = {
        r["batch_id"]: r["n"]
        for r in adm.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert sum(per_batch.values()) == 3  # one row per admitted doc ever


def test_minhash_admitter_seed_crash_window_recovers(spark, tmp_path):
    """r11 advisor seam: the seed gate is a completion marker written
    after BOTH key-set writes. A crash between the fps and keys writes
    (simulated: fps dir present, keys dir absent, no marker) must NOT
    wedge every restart — the next run re-seeds idempotently and
    admits normally."""
    import os

    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    state = str(tmp_path / "state")
    # simulate the crash window: fps written, keys missing, no marker
    from stockpy_spark.operators.dedup import corpus_dedup_keys
    from pyspark.sql import functions as F

    fps, _ = corpus_dedup_keys(corpus, "text", "doc_id", 12, 2)
    fps.withColumn("batch_id", F.lit(-1)).write.mode("overwrite").parquet(
        os.path.join(state, "fps")
    )
    assert not os.path.isfile(os.path.join(state, "_SEED_COMPLETE"))

    rows = [(11, "delta epsilon zeta"), (14, "gamma beta alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [[11, 14]], landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    admitted = run_incremental_minhash_admitter(
        spark, stream, corpus, "text", "doc_id",
        state, str(tmp_path / "ckpt"),
    )
    assert sorted(r["doc_id"] for r in admitted.collect()) == [11]
    assert os.path.isfile(os.path.join(state, "_SEED_COMPLETE"))


def test_compact_admission_index_preserves_replay_semantics(spark, tmp_path):
    """r11 verdict #2 / r12 task 5: inject a replayed batch's duplicate
    appends into the fps/keys dirs, compact (min batch_id per key
    survives), resume the stream with a colliding + a novel wave — the
    admitted set is identical to the uncompacted run's."""
    import os

    from pyspark.sql import functions as F

    from stockpy_spark.streaming.ops import (
        compact_admission_index,
        run_incremental_minhash_admitter,
    )

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = [
        (11, "delta epsilon zeta"),
        (15, "one two three"),
        (5, "three two one"),            # wave 1: LSH dup of 15 -> out
        (22, "late novel document"),     # wave 1: fresh -> admitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    _write_waves(spark, df, [[11, 15]], landing)
    stream = lambda: (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    first = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt
    )
    assert sorted(r["doc_id"] for r in first.collect()) == [11, 15]

    # inject replay garbage: re-append batch 0's index rows verbatim
    # (following the r13 prefix-partitioned layout, as a replay would)
    for sub, part in (("fps", "fpp"), ("keys", "kp")):
        d = os.path.join(state, sub)
        spark.read.parquet(d).where(F.col("batch_id") == 0).write.mode(
            "append"
        ).partitionBy(part).parquet(d)
    pre_fps = spark.read.parquet(os.path.join(state, "fps")).count()

    report = compact_admission_index(spark, state)
    assert report["fps"]["rows_after"] < pre_fps
    # min batch_id per key survives (seed rows keep -1)
    fps = spark.read.parquet(os.path.join(state, "fps"))
    assert fps.groupBy("__fp").count().agg(F.max("count")).collect()[0][0] == 1
    assert fps.agg(F.min("batch_id")).collect()[0][0] == -1

    # resume: wave 1 lands after compaction; 5 must still collide with
    # 15's standing keys, 22 admits
    import glob
    import shutil

    tmp = os.path.join(landing, "__w1")
    df.where(F.col("doc_id").isin([5, 22])).coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(landing, "batch-1.parquet"))
    shutil.rmtree(tmp)

    second = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt
    )
    assert sorted(r["doc_id"] for r in second.collect()) == [11, 15, 22]


def test_pixel_features_on_error_null_isolates_corrupt_payloads(spark):
    """Round-11 degenerate sweep: one truncated/corrupt blob must not
    kill a corpus job. on_error='null' keeps failed rows with NULL
    features + a readable decode_error while healthy rows in the same
    Arrow batch stay exact; the default stays strict (raise) so the
    oracle semantics are unchanged."""
    import numpy as np
    import pytest

    from pyspark.sql import functions as F

    from stockpy_spark.operators.multimodal import (
        encode_bmp,
        extract_pixel_features,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:, :, 0] = 10
    good = encode_bmp(px)
    assets = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"")),               # empty payload
            (3, bytearray(b"BM\x01\x02")),      # truncated BMP header
        ],
        "doc_id long, payload binary",
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/bmp").alias("media_type"),
            F.lit(4).cast("int").alias("width"),
            F.lit(4).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    rows = {
        r["doc_id"]: r
        for r in extract_pixel_features(assets, on_error="null").collect()
    }
    assert rows[1]["px_sum"] == 10 * 16 and rows[1]["decode_error"] is None
    for bad in (2, 3):
        assert rows[bad]["px_sum"] is None and rows[bad]["mean_lum"] is None
        assert rows[bad]["decode_error"]
    # default stays strict
    with pytest.raises(Exception):
        extract_pixel_features(assets).collect()


class TestStreamPsiMonitor:
    """run_psi_monitor (12th streaming class, round-12 continuation):
    per-batch PSI vs a static reference through the real micro-batch
    engine, exactly-once at read, degenerate inputs per the r11 rule."""

    def _run(self, spark, tmp_path, batches, ref_rows):
        import os

        from stockpy_spark.streaming.ops import run_psi_monitor

        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        for w, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "event_id long, value double")
            tmp = str(tmp_path / f"w{w}")
            df.coalesce(1).write.parquet(tmp)
            import glob as g
            import shutil

            part = g.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(landing, f"b{w}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))
        ref = spark.createDataFrame(ref_rows, "event_id long, value double")
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        sink = str(tmp_path / "sink")
        out = run_psi_monitor(
            spark, stream, ref, "value", sink, str(tmp_path / "ckpt")
        )
        return out, sink

    def test_same_dist_quiet_shifted_alerts_empty_null(self, spark, tmp_path):
        ref = [(i, float(i % 100)) for i in range(200)]
        batches = [
            [(1000 + i, float(i % 100)) for i in range(200)],  # same dist
            [(2000 + i, 95.0 + i % 5) for i in range(100)],    # shifted
            [(3000, None)],                                    # empty batch
        ]
        out, _ = self._run(spark, tmp_path, batches, ref)
        rows = {r.batch_id: r for r in out.collect()}
        # empty batch (all-NULL values): NO audit row — a PSI against
        # nothing is undefined and an undefined reading is not a row
        # (r12 advisor: the old NULL-psi row had no oracle
        # counterpart); the gap stays visible in the batch_id sequence
        assert set(rows) == {0, 1}
        assert abs(rows[0].psi) < 0.01 and not rows[0].is_alert
        assert rows[1].psi > 0.2 and rows[1].is_alert

    def test_all_waves_empty_yields_empty_audit(self, spark, tmp_path):
        """Zero non-null values in every wave: the sink dir is never
        created and the final read must return an EMPTY audit with the
        audit schema, not raise (r12 advisor)."""
        ref = [(i, float(i % 10)) for i in range(50)]
        out, _ = self._run(
            spark, tmp_path, [[(1, None)], [(2, None)]], ref
        )
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "batch_id", "n_values", "psi", "is_alert",
        ]

    def test_replayed_batch_collapses_at_read(self, spark, tmp_path):
        import glob as g
        import shutil

        ref = [(i, float(i % 10)) for i in range(50)]
        out, sink = self._run(
            spark, tmp_path, [[(1, 3.0), (2, 4.0)]], ref
        )
        before = {(r.batch_id, r.psi) for r in out.collect()}
        # simulate an at-least-once replay: duplicate the batch's file
        f = g.glob(sink + "/part-*.parquet")[0]
        shutil.copy(f, f.replace("part-", "part-replay-"))
        from pyspark.sql import functions as F

        again = (
            spark.read.parquet(sink)
            .dropDuplicates(["batch_id"])
            .select("batch_id", "n_values", "psi", "is_alert")
        )
        assert {(r.batch_id, r.psi) for r in again.collect()} == before
        assert spark.read.parquet(sink).count() == 2  # replay auditable

    def test_empty_reference_raises(self, spark, tmp_path):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="reference has no non-null"):
            self._run(
                spark,
                tmp_path,
                [[(1, 1.0)]],
                [(1, None)],
            )


def test_stream_minhash_admitter_legacy_state_dir_fallback(spark, tmp_path):
    """A pre-r13 state dir (unpartitioned fps/keys, no bloom sidecars)
    must keep working for its life: the admitter detects the legacy
    layout, runs the full precise path, appends in the legacy shape,
    and admits the identical set."""
    import os

    from pyspark.sql import functions as F

    from stockpy_spark.operators.dedup import corpus_dedup_keys
    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    state = str(tmp_path / "state")
    # hand-seed the OLD layout: flat parquet, batch_id=-1, marker file
    fps, keys = corpus_dedup_keys(corpus, "text", "doc_id")
    fps.withColumn("batch_id", F.lit(-1)).write.parquet(
        os.path.join(state, "fps")
    )
    keys.withColumn("batch_id", F.lit(-1)).write.parquet(
        os.path.join(state, "keys")
    )
    with open(os.path.join(state, "_SEED_COMPLETE"), "w") as fh:
        fh.write("seeded")

    rows = [
        (11, "delta epsilon zeta"),   # fresh -> admitted
        (13, "alpha beta gamma"),     # exact dup of corpus -> out
        (14, "gamma beta alpha"),     # LSH dup of corpus -> out
        (21, "delta epsilon zeta"),   # wave 1: exact dup of 11 -> out
        (22, "novel second wave"),    # fresh -> admitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [[11, 13, 14], [21, 22]], landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    admitted = run_incremental_minhash_admitter(
        spark, stream, corpus, "text", "doc_id", state,
        str(tmp_path / "ckpt"),
    )
    assert sorted(r["doc_id"] for r in admitted.collect()) == [11, 22]
    # appends stayed in the legacy shape: no partition col, no sidecar
    fps_after = spark.read.parquet(os.path.join(state, "fps"))
    assert "fpp" not in fps_after.columns
    assert not os.path.isdir(os.path.join(state, "bloom_fps"))


def test_stream_minhash_admitter_state_manifest_guard(spark, tmp_path):
    """The state manifest (r13): semantic parameters are state-lifetime
    — calling with different num_hashes/bands/hash_fn than the seeded
    index raises; a different bloom geometry is silently ADOPTED from
    the manifest (a mismatched m_bits would produce false negatives =
    silent duplicate admissions, found live by the growth probe)."""
    import pytest

    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = [(11, "delta epsilon zeta"), (13, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [[11, 13]], landing)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    stream = lambda: (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    first = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt,
        bloom_m_bits=1 << 22,
    )
    assert sorted(r.doc_id for r in first.collect()) == [11]
    # mismatched bloom geometry: adopted from manifest, same admission
    again = run_incremental_minhash_admitter(
        spark, stream(), corpus, "text", "doc_id", state, ckpt,
        bloom_m_bits=1 << 18,
    )
    assert sorted(r.doc_id for r in again.collect()) == [11]
    # mismatched SEMANTIC parameter: hard error
    with pytest.raises(ValueError, match="state-lifetime"):
        run_incremental_minhash_admitter(
            spark, stream(), corpus, "text", "doc_id", state, ckpt,
            num_hashes=24,
        )


def test_stream_shard_positions_continuation_and_batch_parity(spark, tmp_path):
    """The 13th streaming class (run_incremental_shard_positions):
    positions are contiguous 1..k per shard ACROSS waves (earlier
    waves strictly before later ones within a shard), and a
    single-wave run is IDENTICAL to the batch operator
    shuffle_shard_plan — the twin contract."""
    from stockpy_spark.operators.sampling import shuffle_shard_plan
    from stockpy_spark.streaming.ops import run_incremental_shard_positions

    df = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    # 3 waves of 20 in pinned order
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [list(range(0, 20)), list(range(20, 40)),
                             list(range(40, 60))], landing)
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out = run_incremental_shard_positions(
        spark, stream, "doc_id", str(tmp_path / "st"), str(tmp_path / "ck")
    ).collect()
    assert len(out) == 60
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append((r.position, r.doc_id))
    for shard, pos in per_shard.items():
        ps = sorted(p for p, _ in pos)
        assert ps == list(range(1, len(ps) + 1)), shard
    # wave-major continuation: within a shard, every wave-0 doc's
    # position precedes every wave-2 doc's
    for shard, pos in per_shard.items():
        w0 = [p for p, i in pos if i < 20]
        w2 = [p for p, i in pos if i >= 40]
        if w0 and w2:
            assert max(w0) < min(w2), shard

    # single-wave parity with the batch operator
    landing2 = str(tmp_path / "landing2")
    _write_waves(spark, df, [list(range(0, 60))], landing2)
    stream2 = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing2)
    )
    got = {
        (r.doc_id, r.shard, r.position)
        for r in run_incremental_shard_positions(
            spark, stream2, "doc_id", str(tmp_path / "st2"), str(tmp_path / "ck2")
        ).collect()
    }
    want = {
        (r.doc_id, r.shard, r.position)
        for r in shuffle_shard_plan(df, "doc_id", n_shards=4, n_buckets=16).collect()
    }
    assert got == want


def test_stream_shard_positions_replayed_counts_do_not_shift_offsets(
    spark, tmp_path
):
    """foreachBatch is at-least-once: a crash-replayed micro-batch
    appends its (batch_id, shard, n) counts rows a SECOND time. The
    offset computation must take one representative per (batch_id,
    shard) — otherwise every later batch sums both copies, inflating
    its positions and breaking the contiguous 1..k contract. Simulate
    the replay by duplicating batch 0's counts file before wave 1."""
    import glob as g
    import os
    import shutil

    from stockpy_spark.streaming.ops import run_incremental_shard_positions

    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [list(range(0, 20))], landing)
    mk = lambda: (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    st, ck = str(tmp_path / "st"), str(tmp_path / "ck")
    first = {
        (r.doc_id, r.shard, r.position)
        for r in run_incremental_shard_positions(
            spark, mk(), "doc_id", st, ck
        ).collect()
    }
    # at-least-once replay of batch 0's counts append: same rows, twice
    counts_dir = os.path.join(st, "counts")
    f = g.glob(os.path.join(counts_dir, "part-*.parquet"))[0]
    shutil.copy(f, f.replace("part-", "part-replay-"))
    # wave 1 lands; its offsets must see wave 0's counts ONCE
    tmp = os.path.join(str(tmp_path), "__w1")
    df.where(F.col("doc_id") >= 20).coalesce(1).write.parquet(tmp)
    part = g.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(landing, "batch-1.parquet")
    shutil.move(part, dst)
    os.utime(dst, (1_000_000_100, 1_000_000_100))
    out = run_incremental_shard_positions(
        spark, mk(), "doc_id", st, ck
    ).collect()
    assert len(out) == 40
    got = {(r.doc_id, r.shard, r.position) for r in out}
    assert first <= got  # standing assignments byte-stable
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.position)
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_stream_shard_positions_resume_is_idempotent(spark, tmp_path):
    """Resuming the same checkpoint with no new files re-reads the
    standing assignments unchanged; a later wave then continues each
    shard's sequence from the standing counts."""
    from stockpy_spark.streaming.ops import run_incremental_shard_positions

    df = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    landing = str(tmp_path / "landing")
    _write_waves(spark, df, [list(range(0, 15))], landing)
    mk = lambda: (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    st, ck = str(tmp_path / "st"), str(tmp_path / "ck")
    first = {
        (r.doc_id, r.shard, r.position)
        for r in run_incremental_shard_positions(spark, mk(), "doc_id", st, ck).collect()
    }
    again = {
        (r.doc_id, r.shard, r.position)
        for r in run_incremental_shard_positions(spark, mk(), "doc_id", st, ck).collect()
    }
    assert first == again
    # second wave lands: old assignments byte-stable, new ones continue
    import glob, os, shutil
    tmp = os.path.join(str(tmp_path), "__w1")
    df.where(F.col("doc_id") >= 15).coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(landing, "batch-1.parquet")
    shutil.move(part, dst)
    os.utime(dst, (1_000_000_100, 1_000_000_100))
    both = {
        (r.doc_id, r.shard, r.position)
        for r in run_incremental_shard_positions(spark, mk(), "doc_id", st, ck).collect()
    }
    assert first <= both and len(both) == 30


# --- MJPEG-in-AVI video container (round 14) --------------------------------

def test_avi_mjpeg_roundtrip_and_fidelity():
    """Container roundtrip over the dimension grid: frame count and
    dims come back exactly; per-pixel error stays within the
    quality-100 JPEG bound (<= 4, measured 2) on every frame."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    for did in (0, 1, 5, 7, 17, 23, 100003):
        frames = [_fake_frame(did, f) for f in range(did % 3 + 2)]
        back = decode_avi_frames(encode_avi_mjpeg(frames))
        assert len(back) == len(frames)
        for a, b in zip(frames, back):
            assert a.shape == b.shape
            assert int(np.abs(a.astype(int) - b.astype(int)).max()) <= 4


def test_avi_structural_errors_fail_loudly():
    """The decoder is a structural parser, not an offset reader: a
    non-AVI payload, a header/stream frame-count mismatch, and a
    truncated movi list all raise instead of yielding a silently
    short video."""
    import struct

    import pytest

    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_frames(b"RIFX" + b"\x00" * 64)

    avi = bytearray(encode_avi_mjpeg([_fake_frame(5, f) for f in range(3)]))
    # corrupt the avih dwTotalFrames (header promises 4, stream has 3)
    at = avi.find(b"avih") + 8
    (n,) = struct.unpack_from("<I", avi, at + 16)
    assert n == 3
    struct.pack_into("<I", avi, at + 16, 4)
    with pytest.raises(ValueError, match="header promises 4"):
        decode_avi_frames(bytes(avi))

    # truncate inside the movi list: the chunk walk stops early and the
    # cross-check against the (restored) header count trips
    struct.pack_into("<I", avi, at + 16, 3)
    movi_at = bytes(avi).find(b"movi")
    cut = bytes(avi)[: movi_at + 40]
    with pytest.raises(Exception):
        decode_avi_frames(cut + b"\x00" * 4)


def test_avi_word_alignment_with_odd_jpeg_sizes():
    """RIFF chunks are word-aligned: odd-sized JPEG payloads force the
    pad byte on the write side and the aligned walk on the read side.
    Find a doc whose encoded frames include an odd size so the path is
    actually exercised."""
    import numpy as np

    from stockpy_spark.operators.jpeg import encode_jpeg
    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    hit = None
    for did in range(40):
        frames = [_fake_frame(did, f) for f in range(did % 3 + 2)]
        if any(len(encode_jpeg(f, quality=100)) % 2 for f in frames):
            hit = (did, frames)
            break
    assert hit is not None, "no odd-sized JPEG in the first 40 docs"
    did, frames = hit
    back = decode_avi_frames(encode_avi_mjpeg(frames))
    assert len(back) == len(frames)
    for a, b in zip(frames, back):
        assert int(np.abs(a.astype(int) - b.astype(int)).max()) <= 4


def test_mm_video_frames_query_shape(spark):
    """The registered query end-to-end at a tiny slice: every 2nd
    frame of every doc present, closed-form dims, all gates green."""
    from stockpy_spark.registry import QUERIES

    out = QUERIES["mm_video_frames"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows and all(r.gate_err_ok == 1 for r in rows)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_id)
        assert r.width == r.doc_id % 8 + 4
        assert r.height == r.doc_id % 6 + 4
    for did, fids in by_doc.items():
        nf = did % 3 + 2
        assert sorted(fids) == [f for f in range(nf) if f % 2 == 0], did


def test_avi_walker_skips_foreign_chunks():
    """Third-party AVIs carry chunks we did not write (JUNK padding,
    LIST INFO metadata). The structural walk must skip them — at the
    top level AND inside movi — and still recover every frame."""
    import struct

    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_frame,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    frames = [_fake_frame(7, f) for f in range(3)]
    avi = encode_avi_mjpeg(frames)

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    # splice a JUNK chunk between hdrl and movi, and a LIST INFO after
    movi_at = avi.find(b"LIST", avi.find(b"movi") - 8)
    junk = chunk(b"JUNK", b"\x07" * 33)  # odd size: exercises alignment
    info = chunk(b"LIST", b"INFO" + chunk(b"ISFT", b"some-writer\x00"))
    spliced = avi[:movi_at] + junk + avi[movi_at:] + info
    # RIFF size covers everything after the first 8 bytes
    spliced = (
        spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    )
    back = decode_avi_frames(spliced)
    assert len(back) == 3
    for a, b in zip(frames, back):
        assert int(np.abs(a.astype(int) - b.astype(int)).max()) <= 4


def test_avi_property_random_frames_roundtrip():
    """Property over random content: ANY frame list (random dims,
    random pixels — including high-frequency noise where the JPEG
    error bound does not apply) must container-roundtrip structurally:
    exact frame count, exact dims, a successful decode of every
    frame. Deterministic seeds, no hypothesis dependency needed."""
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    rng = np.random.default_rng(14)
    for trial in range(12):
        h = int(rng.integers(1, 17))
        w = int(rng.integers(1, 17))
        nf = int(rng.integers(1, 6))
        frames = [
            rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
            for _ in range(nf)
        ]
        back = decode_avi_frames(encode_avi_mjpeg(frames))
        assert len(back) == nf, (trial, h, w, nf)
        for fr in back:
            assert fr.shape == (h, w, 3)
            assert fr.dtype == np.uint8


def test_palette_unique_matches_axis_unique():
    """Unit pin of the r16 packed-uint32 palette builder: colors AND
    inverse must equal np.unique(axis=0, return_inverse=True) exactly
    (the packed r<<16|g<<8|b key sorts row-lexicographically, so the
    encoded GIF bytes are unchanged — the parity evidence lives in
    OPTIMIZATION_r16.md; this test keeps the equivalence executable)."""
    import numpy as np

    from stockpy_spark.operators.multimodal import _fake_pixels, _palette_unique

    rng = np.random.default_rng(23)
    cases = [_fake_pixels(i).reshape(-1, 3) for i in (0, 7, 499)]
    cases.append(np.full((40, 3), 9, np.uint8))  # single color
    cases.append(rng.integers(0, 256, (1, 3)).astype(np.uint8))  # one pixel
    for _ in range(20):
        n = int(rng.integers(1, 400))
        cases.append(rng.integers(0, 256, (n, 3)).astype(np.uint8))
    # boundary values that would collide if packing dropped bits
    cases.append(
        np.array(
            [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255],
             [0, 0, 0], [1, 0, 0], [0, 1, 0], [0, 0, 1]],
            np.uint8,
        )
    )
    for rows in cases:
        want_c, want_i = np.unique(rows, axis=0, return_inverse=True)
        got_c, got_i = _palette_unique(rows)
        assert got_c.dtype == np.uint8
        assert np.array_equal(got_c, want_c)
        assert np.array_equal(np.asarray(got_i).ravel(), np.asarray(want_i).ravel())
