"""Listing source, multimodal plumbing, streaming execution, text ops."""

import os
import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from sparkobs.io import load_table
from sparkobs.operators.multimodal import (
    binary_stats,
    decode_real,
    decode_stub,
    frame_sample_stub,
    text_as_media,
)
from sparkobs.operators.text import fingerprint, language_id, quality_score, text_stats
from sparkobs.sources.listing import (
    key_metrics,
    list_files,
    list_files_distributed,
    prefix_stats,
    storage_stats,
)


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("listing")
    (root / "a").mkdir()
    (root / "b").mkdir()
    (root / "a" / "one.bin").write_bytes(b"x" * 100)
    (root / "a" / "two.bin").write_bytes(b"y" * 300)
    (root / "b" / "three.bin").write_bytes(b"z" * 50)
    return str(root)


def test_list_files_driver(spark, tree):
    rows = list_files(spark, tree).collect()
    assert len(rows) == 3
    assert {r.length for r in rows} == {100, 300, 50}


def test_list_files_distributed_matches_driver(spark, tree):
    a = {(r.path, r.length) for r in list_files(spark, tree).collect()}
    b = {(r.path, r.length) for r in list_files_distributed(spark, tree).collect()}
    assert a == b


def test_prefix_stats_and_argmax(spark, tree):
    stats = {r.prefix.rsplit("/", 1)[-1]: r for r in prefix_stats(list_files(spark, tree)).collect()}
    assert stats["a"].n_objects == 2 and stats["a"].total_bytes == 400
    assert stats["a"].largest_key == "two.bin"
    assert stats["b"].max_bytes == 50


def test_storage_stats(spark, tree):
    r = storage_stats(list_files(spark, tree)).collect()[0]
    assert r.n_objects == 3 and r.total_bytes == 450
    assert r.largest_object.endswith("two.bin")


def test_fs_status_capacity_gauge(spark, tree):
    """OP-10 percent-capacity parity (ref redshift_database_monitor.py:
    111-116): local disk reports real capacity/used/free; the derived
    percent is internally consistent with them."""
    from sparkobs.sources.listing import fs_status

    r = fs_status(spark, tree).collect()[0]
    assert r.store == tree
    assert r.capacity_bytes > 0
    assert 0 <= r.remaining_bytes <= r.capacity_bytes
    assert 0.0 <= r.percent_used <= 100.0
    assert (
        abs(
            r.percent_used
            - 100.0 * (r.capacity_bytes - r.remaining_bytes) / r.capacity_bytes
        )
        < 0.001
    )


def test_fs_status_typed_null_fallback(spark):
    """A store with no capacity concept yields typed NULLs, never fake
    numbers — and the schema stays stable for downstream unions."""
    from sparkobs.sources.listing import fs_status

    df = fs_status(spark, "nosuchscheme://bucket/prefix")
    r = df.collect()[0]
    assert r.capacity_bytes is None and r.percent_used is None
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["capacity_bytes"] == "bigint"
    assert types["percent_used"] == "double"


def test_key_metrics_basename_and_mb(spark, tree):
    rows = {r.key: r for r in key_metrics(list_files(spark, tree)).collect()}
    assert rows["one.bin"].size_bytes == 100
    assert rows["one.bin"].size_mb == round(100 / 1048576.0, 4)


def test_key_metrics_op09_metadata_columns(spark, tmp_path_factory):
    # OP-09 parity (ref s3_key_monitor.py:72-89): content-type derived
    # from extension; S3-only fields present as typed nulls
    root = tmp_path_factory.mktemp("ctypes")
    (root / "d.json").write_text("{}")
    (root / "t.csv").write_text("a,b")
    (root / "p.parquet").write_bytes(b"PAR1")
    (root / "noext").write_bytes(b"x")
    rows = {r.key: r for r in key_metrics(list_files(spark, str(root))).collect()}
    assert rows["d.json"].content_type == "application/json"
    assert rows["t.csv"].content_type == "text/csv"
    assert rows["p.parquet"].content_type == "application/vnd.apache.parquet"
    assert rows["noext"].content_type == "application/octet-stream"
    r = rows["d.json"]
    assert r.storage_class is None and r.user_metadata is None and r.parts_count is None
    schema = {f.name: f.dataType.simpleString() for f in key_metrics(list_files(spark, str(root))).schema.fields}
    assert schema["user_metadata"] == "map<string,string>"
    assert schema["parts_count"] == "int"


def test_profile_preview_deterministic(spark, sf_dir):
    from sparkobs.operators.profile import preview

    orders = load_table(spark, sf_dir, "orders")
    a = [r.o_orderkey for r in preview(orders, 5, ["o_orderkey"]).collect()]
    b = [r.o_orderkey for r in preview(orders, 5, ["o_orderkey"]).collect()]
    assert a == b == sorted(a)
    assert len(preview(orders, 7).collect()) == 7
    # ordered preview must be a TakeOrderedAndProject, not a global sort
    plan = preview(orders, 5, ["o_orderkey"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_media_decode_stub_deterministic(spark, sf_dir):
    media = text_as_media(load_table(spark, sf_dir, "documents").limit(20))
    a = {r.id: (r.width, r.height, r.checksum) for r in decode_stub(media).collect()}
    b = {r.id: (r.width, r.height, r.checksum) for r in decode_stub(media).collect()}
    assert a == b and len(a) == 20
    for w, h, _ in a.values():
        assert 64 <= w < 256 and 64 <= h < 256


def test_media_binary_stats_matches_text_length(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = text_as_media(docs)
    r = binary_stats(media).collect()[0]
    expected = docs.agg(F.sum(F.octet_length("text"))).collect()[0][0]
    assert r.total_bytes == expected and r.n_items == 50


def test_decode_real_unrecognized_payload_is_error_row(spark, sf_dir):
    # text bytes are not a media container: decode_real must produce a
    # typed error row (not raise, not kill the task)
    media = text_as_media(load_table(spark, sf_dir, "documents").limit(3))
    rows = decode_real(media).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.error is not None and r.format is None


def test_frame_sample_expands(spark, sf_dir):
    media = text_as_media(load_table(spark, sf_dir, "documents").limit(10))
    out = frame_sample_stub(media, every_n=10, max_frames=3).collect()
    assert len(out) >= 10  # ≥1 frame per item
    per_id = {}
    for r in out:
        per_id.setdefault(r.id, []).append(r.frame_idx)
    for frames in per_id.values():
        assert frames == sorted(frames) and len(frames) <= 3


def test_streaming_two_batch_drift(spark, sf_dir, tmp_path):
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stateful_count_drift,
        stream_events,
    )

    stage = str(tmp_path / "stream")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    # second file → second micro-batch (maxFilesPerTrigger=1)
    ev.limit(200).coalesce(1).write.mode("append").parquet(stage)
    out = stateful_count_drift(stream_events(spark, stage, files_per_trigger=1))
    tbl = run_to_memory(out, "drift_test", output_mode="update")
    rows = spark.table(tbl).collect()
    # state visible: at least one entity reports a non-null prev_count
    assert any(r.prev_count is not None and r.delta == r.batch_count - r.prev_count for r in rows)


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    from sparkobs.operators.windows import tumbling_agg
    from sparkobs.streaming.monitors import run_to_memory, stream_events, streaming_tumbling

    stage = str(tmp_path / "stream2")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(2).write.mode("overwrite").parquet(stage)
    tbl = run_to_memory(
        streaming_tumbling(stream_events(spark, stage), "1 hour"),
        "tumbling_test",
        output_mode="complete",
    )
    streamed = {
        r.window_start: r.n_events for r in spark.table(tbl).collect()
    }
    batch = {r.window_start: r.n_events for r in tumbling_agg(ev, "1 hour").collect()}
    assert streamed == batch


def test_text_quality_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    for r in quality_score(docs).collect():
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id bigint, text string",
    )
    fps = {r.doc_id: r.fp for r in fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist hier"),
            (3, "xyzzy plugh quux"),
            (4, "数据 处理 引擎"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und", 4: "zh"}


def test_repetition_stats_planted(spark):
    from sparkobs.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # dup line 1/3; bigram "a b" 2/5
            (2, "x y z"),                   # no repetition
            (3, "w w w w"),                 # all-same token; bigram "w w" 3/3
            (4, "solo"),                    # < 2 tokens → NULL bigram frac
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].dup_line_frac == round(1 - 2 / 3, 4)
    assert rows[1].top_bigram_frac == 0.4  # "a b" twice of 5 bigrams
    assert rows[2].dup_line_frac == 0.0 and rows[2].dup_token_frac == 0.0
    assert rows[3].dup_token_frac == 0.75 and rows[3].top_bigram_frac == 1.0
    assert rows[4].top_bigram_frac is None


def test_hash_sample_deterministic_and_key_coherent(spark):
    from sparkobs.operators.sampling import hash_sample

    df = spark.range(0, 10000).withColumn("k", F.col("id") % 1000)
    a = {r.id for r in hash_sample(df, "k", 10).collect()}
    b = {r.id for r in hash_sample(df, "k", 10).collect()}
    assert a == b and 0 < len(a) < 10000
    # key-coherent: every row of a selected key is in, none of a
    # non-selected key
    keys_in = {i % 1000 for i in a}
    assert a == {i for i in range(10000) if i % 1000 in keys_in}
    # salt picks a different sample; one_in=1 keeps everything
    salted = {r.id for r in hash_sample(df, "k", 10, salt="s1").collect()}
    assert salted != a
    assert hash_sample(df, "k", 1).count() == 10000


def test_winnowing_shared_substring_guarantee(spark):
    from sparkobs.operators.text import winnowing_fingerprints

    # winnowing guarantee: a shared substring of length >= k+window-1
    # (= 11 here) produces at least one common fingerprint; disjoint
    # texts share none (w.h.p.)
    shared = "abcdefghijklmnop"  # 16 chars >> 11
    df = spark.createDataFrame(
        [
            (1, "xxx " + shared + " yyy"),
            (2, "zzz " + shared + " qqq"),
            (3, "totally unrelated content with no overlap at all"),
        ],
        "doc_id bigint, text string",
    )
    fps = {
        r.doc_id: set(r.fingerprints)
        for r in winnowing_fingerprints(df, k=8, window=4).collect()
    }
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3])
    # identical docs -> identical fingerprint sets; md5 mode agrees on
    # the structure
    fps_md5 = {
        r.doc_id: set(r.fingerprints)
        for r in winnowing_fingerprints(df, k=8, window=4, hash_fn="md5").collect()
    }
    assert fps_md5[1] & fps_md5[2] and not (fps_md5[1] & fps_md5[3])


def test_pii_scrub_planted(spark):
    from sparkobs.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.io or +1 555-123-4567"),
            (2, "server at 192.168.0.1 and also 10.0.0.255"),
            (3, "nothing sensitive here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert rows[1].n_email == 1 and rows[1].n_phone == 1
    assert rows[1].scrubbed_text == "mail me at <EMAIL> or <PHONE>"
    assert rows[2].n_ipv4 == 2
    assert rows[2].scrubbed_text == "server at <IPV4> and also <IPV4>"
    assert rows[3].scrubbed_text == "nothing sensitive here"
    assert rows[3].n_email == rows[3].n_phone == rows[3].n_ipv4 == 0


def test_stratified_hash_sample_rates_and_default_drop(spark):
    from sparkobs.operators.sampling import hash_sample, stratified_hash_sample

    df = spark.range(0, 8000).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
    )
    out = stratified_hash_sample(df, "grp", "id", {"a": 4}, default_one_in=None)
    rows = out.collect()
    # unlisted group dropped entirely; listed group matches hash_sample
    assert {r.grp for r in rows} == {"a"}
    want = {
        r.id
        for r in hash_sample(df.where("grp = 'a'"), "id", 4).collect()
    }
    assert {r.id for r in rows} == want
    # per-group rates apply independently
    both = stratified_hash_sample(df, "grp", "id", {"a": 4, "b": 2}).collect()
    na = sum(1 for r in both if r.grp == "a")
    nb = sum(1 for r in both if r.grp == "b")
    assert 0 < na < nb


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "aa bb aa")], "doc_id bigint, text string")
    r = text_stats(df).collect()[0]
    assert r.n_chars == 8 and r.n_tokens == 3 and r.n_unique_tokens == 2
    assert r.avg_token_len == 2.0


def test_streaming_watermark_drops_late_events(spark, tmp_path):
    """OP-56: once a window has been EVICTED (watermark passed its end
    before the batch began), a late event for it is dropped — the
    emitted result is final, no duplicate emission. NB: a late event
    arriving while the window's state is still live merges into it;
    eviction is what finalizes (verified against Spark's
    numRowsDroppedByWatermark)."""
    import time
    from datetime import datetime

    from sparkobs.streaming.monitors import stream_events, streaming_tumbling

    stage = str(tmp_path / "late")
    schema = "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double, props string"
    batches = [
        [(1, datetime(2024, 1, 1, 0, 10), 1, "a", 1.0, "{}")],   # opens window 0:00
        [(2, datetime(2024, 1, 1, 9, 0), 1, "a", 1.0, "{}")],    # watermark → 8:00 next batch
        [(4, datetime(2024, 1, 1, 10, 0), 1, "a", 1.0, "{}")],   # this batch evicts+emits 0:00
        [(3, datetime(2024, 1, 1, 0, 20), 1, "a", 1.0, "{}")],   # late: arrives after eviction
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(stage)
        time.sleep(1.2)  # distinct mtimes → one micro-batch per file

    q = (
        streaming_tumbling(stream_events(spark, stage, files_per_trigger=1), "1 hour", "1 hour")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    q.stop()
    emitted = [r for r in spark.table("late_test").collect() if r.window_start == datetime(2024, 1, 1, 0, 0)]
    assert len(emitted) == 1 and emitted[0].n_events == 1  # final, no duplicate
    assert dropped == 1  # the late event was dropped by the watermark


def _wav_bytes():
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 100, -100, 200, -200))
    return buf.getvalue()


def _bmp_bytes():
    import struct

    pix_rows = (bytes([10] * 6) + b"\x00\x00") * 2  # 2x2 24-bit, stride 8
    return (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(pix_rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pix_rows), 0, 0, 0, 0)
        + pix_rows
    )


def _png_bytes(px_rows, nch, filters):
    """Minimal PNG encoder for tests: 8-bit, one FILTERED scanline per
    row using the given per-row filter types (exercises the decoder's
    unfilter paths), zlib-deflated, correct CRCs."""
    import struct
    import zlib

    height = len(px_rows)
    width = len(px_rows[0]) // nch
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = b""
    prev = [0] * (width * nch)
    for row, ft in zip(px_rows, filters):
        filt = [ft]
        for i, v in enumerate(row):
            a = row[i - nch] if i >= nch else 0
            up = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) >> 1
            else:  # Paeth
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
            filt.append((v - pred) & 0xFF)
        raw += bytes(filt)
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_real_png(spark):
    from sparkobs.operators.multimodal import decode_real

    # 3x3 RGB exercising every filter type incl. Paeth; 2x2 grayscale
    # with Sub; 1x1 RGBA; an interlaced header must degrade to a typed
    # unsupported row
    rgb_rows = [
        [10, 20, 30, 40, 50, 60, 70, 80, 90],
        [15, 25, 35, 45, 55, 65, 75, 85, 95],
        [200, 210, 220, 230, 240, 250, 5, 15, 25],
    ]
    gray_rows = [[7, 250], [13, 130]]
    import struct as _s
    import zlib as _z
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + _s.pack(">I", 13) + b"IHDR" + _s.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
        + _s.pack(">I", _z.crc32(b"IHDR" + _s.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)) & 0xFFFFFFFF)
    )
    payloads = [
        (1, _png_bytes(rgb_rows, 3, [0, 2, 4])),
        (2, _png_bytes(gray_rows, 1, [1, 3])),
        (3, _png_bytes([[9, 8, 7, 255]], 4, [0])),
        (4, interlaced),
    ]
    media = spark.createDataFrame(payloads, "id bigint, content binary")
    rows = {r.id: r for r in decode_real(media).collect()}

    rgb = rows[1]
    assert (rgb.format, rgb.kind, rgb.width, rgb.height, rgb.n_channels) == (
        "png", "image", 3, 3, 3)
    want_mean = sum(sum(r) for r in rgb_rows) / 27.0
    assert abs(rgb.mean_value - want_mean) < 1e-9 and rgb.error is None
    gray = rows[2]
    assert (gray.format, gray.width, gray.height, gray.n_channels) == ("png", 2, 2, 1)
    assert gray.mean_value == (7 + 250 + 13 + 130) / 4.0
    rgba = rows[3]
    assert (rgba.width, rgba.height, rgba.n_channels) == (1, 1, 4)
    assert rgba.mean_value == (9 + 8 + 7 + 255) / 4.0
    assert rows[4].format == "png" and "unsupported png" in rows[4].error


def test_resize_media_2d_nearest_neighbor(spark):
    from sparkobs.operators.multimodal import resize_media

    # 4x4 grayscale PGM with distinct quadrant values; 2x2 nearest-
    # neighbor resize picks source pixels (0,0),(0,2),(2,0),(2,2)
    pix = bytes(
        [10, 10, 20, 20,
         10, 10, 20, 20,
         30, 30, 40, 40,
         30, 30, 40, 40]
    )
    pgm = b"P5\n4 4\n255\n" + pix
    rgb = b"P6\n2 2\n255\n" + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    media = spark.createDataFrame(
        [(1, pgm), (2, rgb), (3, b"not an image")], "id bigint, content binary"
    )
    rows = {r.id: r for r in resize_media(media, 2, 2).collect()}
    assert (rows[1].width, rows[1].height, rows[1].n_channels) == (2, 2, 1)
    assert rows[1].mean_value == (10 + 20 + 30 + 40) / 4.0
    # 2x2 -> 2x2 is identity for RGB
    assert rows[2].mean_value == (255 + 255 + 255 + 9 * 3) / 12.0
    assert rows[3].error is not None and rows[3].mean_value is None
    from sparkobs.operators.multimodal import decode_real

    payloads = [
        (1, _wav_bytes()),
        (2, _bmp_bytes()),
        (3, b"P5\n2 3\n255\n" + bytes([1, 2, 3, 4, 5, 6])),
        (4, b"P6\n# c\n2 1\n255\n" + bytes([0, 0, 0, 30, 30, 30])),
        (5, b"not a media file"),
        (6, b"RIFF\x00\x00\x00\x00WAVEjunk"),
    ]
    media = spark.createDataFrame(payloads, "id bigint, content binary")
    rows = {r.id: r for r in decode_real(media).collect()}
    wav = rows[1]
    assert (wav.format, wav.kind, wav.n_channels, wav.n_samples, wav.sample_rate) == (
        "wav", "audio", 2, 2, 8000)
    assert wav.mean_value == 150.0 and wav.error is None
    bmp = rows[2]
    assert (bmp.format, bmp.width, bmp.height, bmp.n_channels) == ("bmp", 2, 2, 3)
    assert bmp.mean_value == 10.0 and bmp.error is None
    pgm = rows[3]
    assert (pgm.format, pgm.width, pgm.height, pgm.n_channels) == ("pgm", 2, 3, 1)
    assert pgm.mean_value == 3.5
    ppm = rows[4]
    assert (ppm.format, ppm.width, ppm.height, ppm.mean_value) == ("ppm", 2, 1, 15.0)
    # corrupt payloads become typed error rows, not task failures
    assert rows[5].error is not None and rows[5].format is None
    assert rows[6].error is not None


def test_streaming_incremental_band_index_cross_batch(spark, sf_dir):
    """The incremental index stream must (a) reproduce one-shot batch
    banding exactly and (b) actually catch pairs ACROSS micro-batches —
    a doc arriving in batch N collides with an index entry from an
    earlier batch (the stage splits docs over 4 files, one per batch)."""
    import glob as globmod

    from sparkobs.operators.dedup import minhash_banded
    from sparkobs.queries import SPARK_QUERIES, _stage_documents

    result = SPARK_QUERIES["streaming_incremental_band_index"](spark, sf_dir)
    got = {(r.id_a, r.id_b) for r in result.collect()}

    banded = minhash_banded(load_table(spark, sf_dir, "documents"), hash_fn="md5")
    other = banded.withColumnRenamed("id", "id2")
    expected = {
        (r.id_a, r.id_b)
        for r in banded.join(other, ["band", "bucket"])
        .where(F.col("id") < F.col("id2"))
        .select(F.col("id").alias("id_a"), F.col("id2").alias("id_b"))
        .distinct()
        .collect()
    }
    assert got == expected
    assert got, "corpus has no colliding pairs; test data regressed"

    stage = _stage_documents(spark, sf_dir, n_files=4, spread=True)
    file_of = {}
    for i, part in enumerate(sorted(globmod.glob(stage + "/part-*"))):
        for r in spark.read.parquet(part).select("doc_id").collect():
            file_of[r.doc_id] = i
    assert any(file_of[a] != file_of[b] for a, b in got), (
        "no candidate pair spans two micro-batches — the incremental "
        "index never caught a cross-batch duplicate"
    )


def test_pack_sequences_spans_and_offsets(spark):
    """Docs laid end-to-end: offsets are the running sum, and a doc
    straddling a budget boundary spans two packs."""
    from sparkobs.operators.text import pack_sequences

    rows = [
        (0, "a b c d e f"),        # 6 tokens -> [0, 6)
        (1, "g h i j"),            # 4 tokens -> [6, 10): crosses the 8-cut
        (2, "k l"),                # 2 tokens -> [10, 12)
        (3, ""),                   # 0 tokens -> empty at 12
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in pack_sequences(df, budget=8).collect()}
    assert (out[0].token_start, out[0].pack_first, out[0].pack_last, out[0].n_packs) == (0, 0, 0, 1)
    assert (out[1].token_start, out[1].pack_first, out[1].pack_last, out[1].n_packs) == (6, 0, 1, 2)
    assert (out[2].token_start, out[2].pack_first, out[2].pack_last, out[2].n_packs) == (10, 1, 1, 1)
    assert (out[3].n_tokens, out[3].n_packs) == (0, 1)


def test_read_csv_schema_required_quoting_and_failfast(spark, tmp_path):
    import pytest

    from sparkobs.sources.files import read_csv, write_format

    df = spark.createDataFrame(
        [(1, 'a,b "quoted"'), (2, "plain")], "id bigint, s string"
    )
    p = str(tmp_path / "csv")
    write_format(df, p, "csv", n_files=1, header=True)
    with pytest.raises(ValueError, match="schema"):
        read_csv(spark, p, None)
    back = {r.id: r.s for r in read_csv(spark, p, "id bigint, s string").collect()}
    assert back == {1: 'a,b "quoted"', 2: "plain"}  # RFC 4180 quoting survives
    bad = tmp_path / "bad.csv"
    bad.write_text("id,s\nnotanint,x\n")
    with pytest.raises(Exception):  # FAILFAST: corrupt rows raise, never null out
        read_csv(spark, str(bad), "id bigint, s string").collect()


def test_read_jsonl_schema_projection(spark, tmp_path):
    from sparkobs.sources.files import read_jsonl

    p = tmp_path / "a.json"
    p.write_text('{"id": 1, "s": "x", "extra": 9}\n{"id": 2}\n')
    rows = {
        r.id: r.s
        for r in read_jsonl(spark, str(p), "id bigint, s string").collect()
    }
    assert rows == {1: "x", 2: None}  # extra keys skipped, absent keys NULL


def test_read_parquet_merged_unions_generations(spark, tmp_path):
    from sparkobs.sources.files import read_parquet_merged

    spark.createDataFrame([(1, "a")], "id bigint, s string").write.parquet(
        str(tmp_path / "gen1")
    )
    spark.createDataFrame(
        [(2, "b", 7.0)], "id bigint, s string, score double"
    ).write.parquet(str(tmp_path / "gen2"))
    out = {r.id: r for r in
           read_parquet_merged(spark, str(tmp_path / "gen*")).collect()}
    assert set(out[1].asDict()) == {"id", "s", "score"}
    assert out[1].score is None  # older generation: added column is NULL
    assert out[2].score == 7.0


def test_pack_manifest_budget_cut(spark):
    from sparkobs.operators.text import pack_manifest

    rows = [(0, "a b c d e f"), (1, "g h i j"), (2, "k l"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.pack_id: r for r in pack_manifest(df, budget=8).collect()}
    assert set(out) == {0, 1}
    assert (out[0].n_docs, out[0].n_tokens, out[0].doc_ids) == (2, 8, "0,1")
    assert (out[1].n_docs, out[1].n_tokens, out[1].doc_ids) == (2, 4, "1,2")


def test_streaming_debounce_gap_boundary_matches_batch_rule(spark, tmp_path_factory):
    """The 1 µs session-gap shave: an event EXACTLY 600 s after the
    previous one starts a new burst (batch lag rule: gap >= 600 s),
    while one at 599.999999 s merges. Spark's unshaved session window
    would merge the exact-600 case — this pins the boundary on
    hand-built data where it actually occurs (the parquet corpus never
    lands on the boundary, so oracle certification alone can't see
    it)."""
    from sparkobs.streaming.monitors import run_to_memory, streaming_debounce

    rows = [
        # user 1: second event exactly 600 s later -> BOTH survive
        (1, 1, "click", "2024-01-01 00:00:00", 1.0),
        (2, 1, "click", "2024-01-01 00:10:00", 2.0),
        # user 2: second event 1 µs inside the gap -> burst, first only
        (3, 2, "click", "2024-01-01 00:00:00", 3.0),
        (4, 2, "click", "2024-01-01 00:09:59.999999", 4.0),
    ]
    src = str(tmp_path_factory.mktemp("debounce_boundary"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).withColumn(
        "props", F.lit("{}")
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(src)
    out = streaming_debounce(stream, ["user_id", "event_type"], gap_seconds=600)
    tbl = run_to_memory(out, "debounce_boundary", output_mode="complete")
    kept = sorted(r["event_id"] for r in spark.table(tbl).collect())
    assert kept == [1, 2, 3]


def test_streaming_binned_counts_state_is_geometry_bounded(spark, sf_dir):
    """The KS collection stream's drained cell table never exceeds
    2 x n_bins rows regardless of input volume, and total counts equal
    the non-null input rows — the bounded-state contract."""
    from sparkobs.queries import _stage_events
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        streaming_binned_counts,
    )

    stage = _stage_events(spark, sf_dir)
    cells = streaming_binned_counts(
        stream_events(spark, stage), lo=0.0, hi=600.0, n_bins=25
    )
    tbl = run_to_memory(cells, "ks_bound", output_mode="complete")
    got = spark.table(tbl).collect()
    assert len(got) <= 2 * 25
    n_nonnull = (
        load_table(spark, sf_dir, "events").where(F.col("value").isNotNull()).count()
    )
    assert sum(r["c"] for r in got) == n_nonnull


def test_zone_map_classification_hand_values(spark, tmp_path):
    """pruned/full/partial classes and row accounting, on fragments
    with known ranges: [0,9] [10,19] [20,29] vs predicate [12,25]."""
    import os

    from pyspark.sql import functions as F

    from sparkobs.sources.listing import zone_map_build, zone_map_prune_estimate

    d = os.path.join(str(tmp_path), "zm")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    zmap = zone_map_build(spark, d, "id")
    assert zmap.count() == 3
    r = zone_map_prune_estimate(zmap, F.lit(12), F.lit(25)).collect()[0]
    # [0,9] pruned; [10,19] and [20,29] overlap partially; none full
    assert (r["n_fragments"], r["n_pruned"], r["n_full"], r["n_partial"]) == (3, 1, 0, 2)
    assert (r["rows_total"], r["rows_pruned"], r["rows_partial"]) == (30, 10, 20)
    assert r["share_rows_pruned"] == 10 / 30
    # fully-contained predicate: everything prunes except one full frag
    r2 = zone_map_prune_estimate(zmap, F.lit(10), F.lit(19)).collect()[0]
    assert (r2["n_pruned"], r2["n_full"], r2["n_partial"]) == (2, 1, 0)
    assert r2["rows_full"] == 10


def test_image_ahash_container_invariance_and_sensitivity(spark):
    """aHash must collide across containers of the SAME raster (PGM vs
    PNG through different decode paths) and differ for different
    rasters; undecodable payloads yield a NULL hash with an error."""
    from sparkobs.operators.multimodal import image_ahash, synth_media

    docs = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id bigint, text string",
    )
    rows = image_ahash(synth_media(docs)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["format"]] = r["ahash"]
    # container invariance per doc
    for d, h in by_doc.items():
        assert h["pgm"] == h["png"] and h["pgm"] is not None, (d, h)
    # same text -> same raster -> same hash; different text -> different
    assert by_doc[1]["pgm"] == by_doc[3]["pgm"]
    assert by_doc[1]["pgm"] != by_doc[2]["pgm"]
    # n_pixels = 32 md5 hex chars
    assert all(r["n_pixels"] == 32 for r in rows)
    # undecodable payload: typed error row, not an exception
    bad = spark.createDataFrame([(9, bytearray(b"JFIF...."))], "id long, content binary")
    r = image_ahash(bad).collect()[0]
    assert r["ahash"] is None and r["error"] == "undecodable"
    # hash depends ONLY on the first max_bits pixels: a 200-pixel
    # raster (> 63) whose head matches a 63-pixel raster but whose
    # tail differs hashes identically, and n_pixels caps at 63 (the
    # kernel slices the raster to max_bits before converting — the
    # tail must not leak into the mean or bits)
    head = bytes(range(63))
    big = spark.createDataFrame(
        [
            (10, bytearray(b"P5\n63 1\n255\n" + head)),
            (11, bytearray(b"P5\n200 1\n255\n" + head + bytes([255] * 137))),
        ],
        "id long, content binary",
    )
    got = {r["id"]: r for r in image_ahash(big).collect()}
    assert got[10]["n_pixels"] == got[11]["n_pixels"] == 63
    assert got[10]["ahash"] == got[11]["ahash"] is not None


def test_image_near_pairs_banding_finds_close_hashes(spark):
    """Hand hashes: pairs within the Hamming budget are found through
    the band join; far pairs are not; candidates collide in multiple
    bands without duplicating output rows."""
    from sparkobs.operators.multimodal import image_ahash_near_pairs

    rows = [
        (1, 0b10110011_01010101_11110000_00001111),
        (2, 0b10110011_01010101_11110000_00001110),  # hamming 1 vs id1
        (3, 0b10110011_01010101_11110000_11111111),  # hamming 4 vs id1: out
        (4, 0b01001100_10101010_00001111_11110000),  # complement-ish: far
    ]
    df = spark.createDataFrame(rows, "id long, ahash long")
    got = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_ahash_near_pairs(df).collect()
    ]
    assert got == [(1, 2, 1)]
    # raising the budget admits the hamming-4 pair (bands still catch
    # it because 3 of its 4 bands are identical)
    got5 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_ahash_near_pairs(df, max_hamming=5).collect()
    }
    assert (1, 3, 4) in got5 and (2, 3, 5) in got5 and (1, 2, 1) in got5


def test_audio_fingerprint_gain_robust_and_sensitive(spark):
    """Hand WAVs: a +1-gain copy keeps the fingerprint when per-frame
    RMS stays inside the quantization step; genuinely different audio
    (loud vs quiet) fingerprints differently."""
    import io
    import struct
    import wave

    from sparkobs.operators.multimodal import audio_fingerprint, gain_media

    def wav(samples: bytes) -> bytes:
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setparams((1, 1, 8000, len(samples), "NONE", "not compressed"))
            w.writeframes(samples)
        return out.getvalue()

    quiet = bytes([128 + (1 if i % 2 else -1) for i in range(64)])   # rms≈1
    loud = bytes([128 + (100 if i % 2 else -100) for i in range(64)])  # rms≈100
    media = spark.createDataFrame(
        [(1, bytearray(wav(quiet))), (2, bytearray(wav(loud)))],
        "id long, content binary",
    )
    fp = {r["id"]: r["fingerprint"] for r in audio_fingerprint(media).collect()}
    assert fp[1] != fp[2]
    assert all(r["n_frames"] == 4 for r in audio_fingerprint(media).collect())
    # +1 gain: quiet rms 1->~1.4 (same floor/8 bucket 0), loud 100->~101
    # (bucket 12 either way) -> fingerprints survive
    gfp = {
        r["id"] - 1_000_000_000: r["fingerprint"]
        for r in audio_fingerprint(gain_media(media)).collect()
    }
    assert gfp[1] == fp[1] and gfp[2] == fp[2]
    # undecodable payload: typed error row
    bad = spark.createDataFrame([(9, bytearray(b"nope"))], "id long, content binary")
    r = audio_fingerprint(bad).collect()[0]
    assert r["fingerprint"] is None and r["error"] == "undecodable"


def test_audio_fingerprint_fine_quant_saturates_digit(spark):
    """Review fix: a caller-chosen fine quant must saturate the base-32
    digit (min(q, 31)), never bleed into the previous frame's digit."""
    import io
    import wave

    from sparkobs.operators.multimodal import audio_fingerprint

    def wav(samples: bytes) -> bytes:
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setparams((1, 1, 8000, len(samples), "NONE", "not compressed"))
            w.writeframes(samples)
        return out.getvalue()

    # frame rms = 100 -> q = 100//2 = 50 without the clamp; two frames
    loud = bytes([128 + (100 if i % 2 else -100) for i in range(32)])
    media = spark.createDataFrame(
        [(1, bytearray(wav(loud)))], "id long, content binary"
    )
    r = audio_fingerprint(media, quant=2.0).collect()[0]
    assert r["n_frames"] == 2
    assert r["fingerprint"] == 31 * 32 + 31  # both digits saturated


def test_video_frame_hashes_rotation_overlap(spark):
    """Hand case: a rotated-by-one video shares exactly 2 of its 3
    sampled frame hashes with the original; a different video shares
    none."""
    from sparkobs.operators.multimodal import synth_video, video_frame_hashes

    docs = spark.createDataFrame(
        [(1, "some video text"), (2, "another clip")], "doc_id bigint, text string"
    )
    fh = video_frame_hashes(synth_video(docs), max_frames=3).collect()
    by_vid = {}
    for r in fh:
        by_vid.setdefault(r["id"], set()).add(r["ahash"])
    assert all(len(v) == 3 for v in by_vid.values())  # 3 sampled frames
    # original 1 = frames {f0,f1,f2}; rotated = {f1,f2,f3}: overlap 2
    assert len(by_vid[1] & by_vid[1 + 1_000_000_000]) == 2
    # unrelated docs share nothing
    assert not (by_vid[1] & by_vid[2])
