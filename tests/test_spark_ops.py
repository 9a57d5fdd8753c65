"""Spark-side operator tests: node table, HTML column functions, resumable
pipeline, streaming extraction, multimodal stubs."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksoup_spark.functions import html as H  # noqa: E402
from ksoup_spark.operators import extract, multimodal  # noqa: E402
from ksoup_spark.plans import pipeline  # noqa: E402
from ksoup_spark.sources.corpus import build_docs_table  # noqa: E402
from ksoup_spark.streaming import stream as streaming  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def html_df(spark):
    return spark.createDataFrame(
        [
            ("d1", '<html><head><title>T1</title><meta name=description '
                   'content="desc one"><link rel=canonical href="http://c.x/p">'
                   '</head><body><div id=m><p>Hello <b>world</b></p>'
                   '<a href="/rel">l</a><img src="i.png"></div></body></html>'),
            ("d2", "<base href='http://b.x/'><p>Two</p><video src='v.mp4'></video>"),
        ],
        "doc_id string, html string",
    )


def test_node_table_shape(spark, html_df):
    nt = extract.node_table_df(html_df)
    rows = nt.filter("doc_id = 'd1'").orderBy("node_id").collect()
    assert rows[0]["kind"] == extract.KIND_DOCUMENT
    tags = [r["tag"] for r in rows if r["kind"] == extract.KIND_ELEMENT]
    assert tags[:3] == ["html", "head", "title"]
    # preorder interval invariant: child ranges nest inside parents
    by_id = {r["node_id"]: r for r in rows}
    for r in rows:
        p = r["parent_id"]
        if p >= 0:
            assert by_id[p]["node_id"] < r["node_id"] <= by_id[p]["subtree_end"]


def test_node_table_descendant_join(spark, html_df):
    """Corpus-wide descendant query via the preorder-interval range join."""
    nt = extract.node_table_df(html_df).cache()
    divs = nt.filter("tag = 'div'").select(
        "doc_id", F.col("node_id").alias("anc_id"),
        F.col("subtree_end").alias("anc_end"))
    descendants = nt.join(divs, "doc_id").filter(
        (F.col("node_id") > F.col("anc_id"))
        & (F.col("node_id") <= F.col("anc_end"))
        & (F.col("tag") == "a")
    )
    assert descendants.count() == 1


def test_html_functions(spark, html_df):
    out = html_df.select(
        "doc_id",
        H.html_text("html").alias("text"),
        H.html_title("html").alias("title"),
        H.html_select_count("html", "p").alias("np"),
        H.html_links("html").alias("links"),
        H.html_media_refs("html").alias("media"),
    ).orderBy("doc_id").collect()
    assert out[0]["text"] == "Hello world l"
    assert out[0]["title"] == "T1"
    assert out[0]["np"] == 1
    assert out[0]["links"] == ["/rel"]
    assert out[0]["media"] == ["i.png"]
    assert out[1]["media"] == ["http://b.x/v.mp4"]


def test_html_meta(spark, html_df):
    m = html_df.select(H.html_meta("html").alias("m")).first()["m"]
    assert m["title"] == "T1"
    assert m["description"] == "desc one"
    assert m["canonical"] == "http://c.x/p"


_METADATA_TEST_HTML = """<html>
    <head>
        <title>Test Page</title>
        <meta property="og:title" content="Test OG Title">
        <meta property="og:description" content="Test OG Description">
        <meta property="og:image" content="https://example.com/image.png">
        <meta property="og:url" content="https://example.com">
        <meta name="twitter:title" content="Test Twitter Title">
        <meta name="twitter:description" content="Test Twitter Description">
        <meta name="twitter:image" content="https://example.com/twitter_image.png">
        <meta name="description" content="Test Description">
        <link rel="canonical" href="https://example.com">
        <link rel="icon" href="/favicon.ico">
        <link href="/pikacon-32x32.png" rel="shortcut icon" type="image/png">
    </head>
</html>"""


def test_html_meta_reference_fields(spark):
    # meta/MetadataTest.kt assertMetaData: the full MetaData field set,
    # including the base-prefixed favicon/shortcutIcon (Ksoup.kt:257-265)
    df = spark.createDataFrame([(_METADATA_TEST_HTML,)], "html string")
    m = df.select(
        H.html_meta("html", base_uri="https://example.com").alias("m")
    ).first()["m"]
    assert m["title"] == "Test Page"
    assert m["og_title"] == "Test OG Title"
    assert m["og_description"] == "Test OG Description"
    assert m["og_image"] == "https://example.com/image.png"
    assert m["og_url"] == "https://example.com"
    assert m["twitter_title"] == "Test Twitter Title"
    assert m["twitter_description"] == "Test Twitter Description"
    assert m["twitter_image"] == "https://example.com/twitter_image.png"
    assert m["description"] == "Test Description"
    assert m["canonical"] == "https://example.com"
    assert m["favicon"] == "https://example.com/favicon.ico"
    assert m["shortcut_icon"] == "https://example.com/pikacon-32x32.png"


def test_pipeline_resume(spark, tmp_path):
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans")
    out = str(tmp_path / "spans")
    metrics = str(tmp_path / "metrics")
    r1 = pipeline.run_extraction_pipeline(
        spark, docs, out, metrics, num_parts=8, parts_per_batch=8)
    assert r1["skipped_parts"] == 0
    assert len(r1["processed_parts"]) == 8
    n1 = spark.read.parquet(out).count()
    assert n1 == docs.count()
    # rerun: everything already checkpointed -> nothing reprocessed
    r2 = pipeline.run_extraction_pipeline(
        spark, docs, out, metrics, num_parts=8, parts_per_batch=8)
    assert r2["processed_parts"] == []
    assert r2["skipped_parts"] == 8
    assert spark.read.parquet(out).count() == n1
    # metrics carry lineage
    m = spark.read.parquet(metrics)
    assert m.select("part").distinct().count() == 8
    assert m.agg(F.sum("n_docs")).first()[0] == n1


def test_pipeline_partial_resume(spark, tmp_path):
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans").limit(100)
    out = str(tmp_path / "spans")
    metrics = str(tmp_path / "metrics")
    full = pipeline.with_part(docs, 4)
    # simulate a crashed run: only partition 0 completed
    done_docs = full.filter("part = 0").drop("part")
    pipeline.run_extraction_pipeline(
        spark, done_docs, out, metrics, num_parts=4, parts_per_batch=4)
    r = pipeline.run_extraction_pipeline(
        spark, docs, out, metrics, num_parts=4, parts_per_batch=4)
    assert 0 not in r["processed_parts"]
    assert spark.read.parquet(out).count() == docs.count()


def test_streaming_extraction(spark, tmp_path):
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans").limit(50)
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.start_extraction_stream(
        streaming.read_docs_stream(spark, src), out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert set(got.columns) == {"doc_id", "spans"}
    # restart with no new data: checkpoint prevents reprocessing
    q2 = streaming.start_extraction_stream(
        streaming.read_docs_stream(spark, src), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 50


def test_multimodal_metadata(spark):
    media = multimodal.synth_media_table(spark, 32)
    meta = multimodal.media_metadata(media).orderBy("media_id").collect()
    assert len(meta) == 32
    assert meta[0]["format"] == "png" and meta[0]["kind"] == "image"
    assert meta[0]["width"] is not None
    assert meta[1]["format"] == "jpeg"
    assert all(m["sha256"] for m in meta)
    # deterministic across runs
    again = multimodal.media_metadata(media).orderBy("media_id").collect()
    assert meta == again


def test_multimodal_metadata_out_of_int32_is_null(spark):
    """A header field outside int32 reads as NULL; the other row and the
    bad row's other fields stay intact."""
    def png(w, h):
        return bytearray(b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR"
                         + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                         + b"\x08\x06\x00\x00\x00")
    bad_png = png(0xFFFFFFF0, 480)
    media = spark.createDataFrame(
        [("good", png(640, 480)), ("bad", bad_png)],
        "media_id string, payload binary").repartition(1)
    got = {r["media_id"]: r for r in multimodal.media_metadata(media).collect()}
    assert (got["good"]["format"], got["good"]["width"],
            got["good"]["height"]) == ("png", 640, 480)
    bad = got["bad"]
    assert bad["width"] is None
    assert (bad["format"], bad["kind"], bad["height"], bad["n_bytes"]) == (
        "png", "image", 480, len(bad_png))


def test_multimodal_features_and_frames(spark):
    media = multimodal.synth_media_table(spark, 8)
    feats = multimodal.media_features(media, dim=16).collect()
    assert all(len(f["features"]) == 16 for f in feats)
    frames = multimodal.sample_frames(media).groupBy("media_id").count()
    assert frames.count() == 8


def test_enrich_media_spans(spark):
    """Media spans joined to decoded metadata: real header decode for the
    PNG ref, stub decode for the RIFF-garbage ref, null metadata for a
    dangling media_ref; text spans never explode."""
    docs = spark.createDataFrame(
        [("d1", "<p>hello</p><img src=a.png><img src=missing.png>"),
         ("d2", "<p>text only</p>")],
        "doc_id string, html string")
    spans = extract.extract_spans_from_html_df(docs)
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    media = spark.createDataFrame(
        [("a.png", bytearray(png))], "media_id string, payload binary")
    out = multimodal.enrich_media_spans(spans, media).collect()
    by_ref = {r["media_ref"]: r for r in out}
    assert len(out) == 2 and set(by_ref) == {"a.png", "missing.png"}
    got = by_ref["a.png"]
    assert (got["format"], got["width"], got["height"]) == ("png", 640, 480)
    assert got["doc_id"] == "d1" and got["kind"] == "image"
    assert by_ref["missing.png"]["format"] is None  # left join keeps the span


def test_multimodal_strict_raises(spark):
    media = multimodal.synth_media_table(spark, 2)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.media_metadata(media, strict=True).collect()


def _real_media_bytes():
    import io
    import wave as _wave

    buf = io.BytesIO()
    w = _wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(b"\x00\x01" * 4000)  # 4000 frames @ 8 kHz = 500 ms
    w.close()
    wav = buf.getvalue()
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    gif = (b"GIF89a" + (320).to_bytes(2, "little")
           + (200).to_bytes(2, "little") + b"\x00" * 10)
    # SOI, APP0 (len 16 = 2 len bytes + 14 payload), SOF0 (prec 8, 480x640)
    jpeg = (b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big")
            + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + b"\x03" + b"\x00" * 10)
    # BITMAPINFOHEADER, 800x600 bottom-up
    bmp = (b"BM" + (26).to_bytes(4, "little") + b"\x00" * 4
           + (26).to_bytes(4, "little") + (40).to_bytes(4, "little")
           + (800).to_bytes(4, "little", signed=True)
           + (600).to_bytes(4, "little", signed=True))
    # WEBP lossless: 14-bit (width-1, height-1) packed after the 0x2F tag
    bits = 332 | (221 << 14)
    webp = (b"RIFF" + (13).to_bytes(4, "little") + b"WEBPVP8L"
            + (5).to_bytes(4, "little") + b"\x2f" + bits.to_bytes(4, "little"))
    # FLAC STREAMINFO: 44100 Hz, 441000 total samples = 10 s
    si = bytearray(34)
    si[0:2] = si[2:4] = (4096).to_bytes(2, "big")
    si[10] = (44100 >> 12) & 0xFF
    si[11] = (44100 >> 4) & 0xFF
    si[12] = ((44100 & 0xF) << 4) | (1 << 1)  # 2 channels
    si[13] = (0xF << 4) | ((441000 >> 32) & 0xF)  # 16 bps
    si[14:18] = (441000).to_bytes(4, "big")
    flac = b"fLaC\x80" + (34).to_bytes(3, "big") + bytes(si)
    # empty ID3v2.4 tag + 3 MPEG1 Layer III frames (128 kbps, 44.1 kHz):
    # 3 * 1152 samples / 44100 Hz = 78 ms
    fhdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    frame = fhdr + b"\x00" * (1152 * 128000 // (8 * 44100) - 4)
    mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + frame * 3
    # ISO BMFF: ftyp + moov(mvhd v0 timescale 600 / duration 6000 = 10 s,
    # trak(tkhd v0 640x360 as 16.16 fixed))
    def _box(t, payload):
        return (8 + len(payload)).to_bytes(4, "big") + t + payload
    mvhd = _box(b"mvhd", b"\x00" * 12 + (600).to_bytes(4, "big")
                + (6000).to_bytes(4, "big") + b"\x00" * 80)
    tk = bytearray(84)
    tk[76:80] = (640 << 16).to_bytes(4, "big")
    tk[80:84] = (360 << 16).to_bytes(4, "big")
    mp4 = (_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
           + _box(b"moov", mvhd + _box(b"trak", _box(b"tkhd", bytes(tk)))))
    import struct

    # baseline TIFF (little-endian): IFD @8, ImageWidth SHORT / Length LONG
    tiff = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 2)
            + struct.pack("<HHI", 256, 3, 1) + struct.pack("<H", 1024)
            + b"\x00\x00"
            + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 768)
            + struct.pack("<I", 0))
    # ICONDIR + one 256x64 entry (width byte 0 means 256)
    ico = (b"\x00\x00\x01\x00" + struct.pack("<H", 1)
           + bytes([0, 64, 0, 0]) + b"\x00" * 16)
    # RIFF AVI: LIST hdrl > avih — 33367 us/frame x 300 frames = 10010 ms
    avih = (struct.pack("<IIII", 33367, 0, 0, 0)
            + struct.pack("<IIII", 300, 0, 0, 0) + struct.pack("<II", 320, 240))
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    lst = b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    avi = b"RIFF" + struct.pack("<I", 4 + len(lst)) + b"AVI " + lst

    def _ogg_page(granule, header_type, packet):
        seg, r = [], len(packet)
        while r >= 255:
            seg.append(255)
            r -= 255
        seg.append(r)
        return (b"OggS\x00" + bytes([header_type])
                + struct.pack("<q", granule) + b"\x00" * 12
                + bytes([len(seg)]) + bytes(seg) + packet)

    # Ogg Vorbis BOS id packet (44100 Hz) + a data page at granule 3 s
    vorbis_id = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
                 + struct.pack("<I", 44100) + b"\x00" * 11)
    ogg = _ogg_page(-1, 2, vorbis_id) + _ogg_page(44100 * 3, 4, b"\x00" * 10)
    # Ogg Opus: granules are 48 kHz; pre-skip 312 subtracted
    opus_id = (b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
               + struct.pack("<I", 48000) + b"\x00\x00\x00")
    opus = (_ogg_page(-1, 2, opus_id)
            + _ogg_page(48000 * 2 + 312, 4, b"\x00" * 10))

    def _ebml(eid, payload):
        idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        return idb + bytes([0x80 | len(payload)]) + payload

    # WebM: EBML DocType, Segment > Info (scale 1e6 ns, 12345.0 ticks)
    # + Tracks > TrackEntry > Video 1280x720
    mkv = (_ebml(0x1A45DFA3, _ebml(0x4282, b"webm"))
           + _ebml(0x18538067,
                   _ebml(0x1549A966,
                         _ebml(0x2AD7B1, struct.pack(">I", 1000000))
                         + _ebml(0x4489, struct.pack(">d", 12345.0)))
                   + _ebml(0x1654AE6B,
                           _ebml(0xAE, _ebml(0xE0,
                                 _ebml(0xB0, struct.pack(">H", 1280))
                                 + _ebml(0xBA, struct.pack(">H", 720)))))))
    return [("wav", wav), ("png", png), ("gif", gif), ("jpeg", jpeg),
            ("bmp", bmp), ("webp", webp), ("flac", flac), ("mp3", mp3),
            ("mp4", mp4), ("tiff", tiff), ("ico", ico), ("avi", avi),
            ("ogg", ogg), ("opus", opus), ("mkv", mkv)]


def test_multimodal_real_header_decode(spark):
    # real container-header decode path (no codec libs needed): strict=True
    # must SUCCEED for genuinely parseable containers (all nine formats)
    media = spark.createDataFrame(_real_media_bytes(),
                                  "media_id string, payload binary")
    meta = {m["media_id"]: m for m in
            multimodal.media_metadata(media, strict=True).collect()}
    assert meta["wav"]["format"] == "wav" and meta["wav"]["kind"] == "audio"
    assert meta["wav"]["duration_ms"] == 500
    assert (meta["png"]["width"], meta["png"]["height"]) == (640, 480)
    assert (meta["gif"]["width"], meta["gif"]["height"]) == (320, 200)
    assert (meta["jpeg"]["width"], meta["jpeg"]["height"]) == (640, 480)
    assert meta["jpeg"]["format"] == "jpeg"
    assert (meta["bmp"]["width"], meta["bmp"]["height"]) == (800, 600)
    assert (meta["webp"]["width"], meta["webp"]["height"]) == (333, 222)
    assert meta["flac"]["kind"] == "audio"
    assert meta["flac"]["duration_ms"] == 10000
    assert meta["mp3"]["format"] == "mp3"
    assert meta["mp3"]["duration_ms"] == 78  # 3 × 1152 / 44100 Hz
    assert meta["mp4"]["kind"] == "video"
    assert (meta["mp4"]["width"], meta["mp4"]["height"]) == (640, 360)
    assert meta["mp4"]["duration_ms"] == 10000
    assert (meta["tiff"]["width"], meta["tiff"]["height"]) == (1024, 768)
    assert meta["tiff"]["format"] == "tiff"
    assert (meta["ico"]["width"], meta["ico"]["height"]) == (256, 64)
    assert meta["avi"]["kind"] == "video"
    assert (meta["avi"]["width"], meta["avi"]["height"]) == (320, 240)
    assert meta["avi"]["duration_ms"] == 10010
    assert meta["ogg"]["format"] == "ogg" and meta["ogg"]["kind"] == "audio"
    assert meta["ogg"]["duration_ms"] == 3000
    assert meta["opus"]["duration_ms"] == 2000  # (granule - preskip)/48k
    assert meta["mkv"]["format"] == "webm" and meta["mkv"]["kind"] == "video"
    assert (meta["mkv"]["width"], meta["mkv"]["height"]) == (1280, 720)
    assert meta["mkv"]["duration_ms"] == 12345


def test_multimodal_malformed_headers_fall_back():
    """Truncated/corrupt containers must return None from _parse_real (the
    stub path takes over) — never raise. Pure-Python: no Spark needed."""
    from ksoup_spark.operators.multimodal import _decode_payload, _parse_real

    for _, good in _real_media_bytes():
        for cut in (1, 5, 9, 13, len(good) // 2):
            trunc = good[:cut]
            _parse_real(trunc)  # must not raise
            meta = _decode_payload(trunc)  # stub or real, never an error
            assert meta["format"] is not None
        corrupt = bytes(good[:8]) + b"\xff" * max(0, len(good) - 8)
        _parse_real(corrupt)
        # all-bits-set size fields must not produce negative/absurd walks
        assert _decode_payload(corrupt)["format"] is not None


def test_sniff_truncated_ico_and_avi():
    """A truncated ICO or RIFF-AVI header falls to the stub path but still
    sniffs as its own container: ICO as an image, AVI as a video (not
    unknown, not RIFF audio)."""
    from ksoup_spark.operators.multimodal import _decode_payload, _sniff

    ico = b"\x00\x00\x01\x00\x01\x00"  # ICONDIR cut before its entry
    avi = b"RIFF" + (4).to_bytes(4, "little") + b"AVI "  # no LIST hdrl
    assert _sniff(ico) == ("ico", "image")
    assert _sniff(avi) == ("avi", "video")
    assert _decode_payload(ico)["format"] == "ico"
    assert _decode_payload(avi)["kind"] == "video"
    wave = b"RIFF" + (4).to_bytes(4, "little") + b"WAVE"
    assert _sniff(wave) == ("riff", "audio")


def test_extract_handles_malformed_and_empty(spark):
    df = spark.createDataFrame(
        [("a", "<p"), ("b", ""), ("c", None), ("d", "<table><tr>x")],
        "doc_id string, html string",
    )
    out = extract.extract_spans_from_html_df(df).collect()
    assert len(out) == 4  # no crash on adversarial input


def test_giant_doc_skew(spark):
    """A multi-MB document must not break Arrow batching or the kernel."""
    giant = "<div>" + "".join(
        f"<p id=g{i}>giant paragraph {i} text</p>" for i in range(20000)
    ) + "</div>"
    df = spark.createDataFrame(
        [("giant", giant)] + [(f"s{i}", f"<p>small {i}</p>") for i in range(200)],
        "doc_id string, html string",
    )
    out = extract.extract_spans_from_html_df(
        df, repartition=8
    )
    rows = out.collect()
    assert len(rows) == 201
    giant_row = [r for r in rows if r["doc_id"] == "giant"][0]
    assert "giant paragraph 19999" in giant_row["spans"][0]["text"]


def test_select_elements_df(spark, html_df):
    got = extract.select_elements_df(html_df, "div > p").collect()
    assert len(got) == 1
    assert got[0]["text"] == "Hello world"
    assert got[0]["tag"] == "p"


def test_bytes_decode_bom(spark):
    payload = "﻿<p>bom doc</p>".encode("utf-16-le")
    df = spark.createDataFrame([("b1", bytearray(payload))],
                               "doc_id string, content binary")
    out = extract.extract_spans_from_bytes_df(df).first()
    assert out["spans"][0]["text"] == "bom doc"


def test_streaming_windowed_metrics(spark, tmp_path):
    """Watermarked windowed aggregation over the extraction stream."""
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans").limit(40)
    timed = docs.withColumn(
        "event_time",
        F.to_timestamp(
            F.concat(F.lit("2026-08-16 10:0"),
                     F.pmod(F.xxhash64("doc_id"), F.lit(5)).cast("string"),
                     F.lit(":00"))
        ),
    )
    src = str(tmp_path / "src")
    timed.write.parquet(src)
    schema = ("event_time timestamp, doc_id string, spans array<struct<"
              "kind:string,text:string,media_ref:string,offset:int>>")
    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming.span_metrics_stream(stream, window_duration="1 minute",
                                        watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("span_metrics")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("span_metrics").collect()
    assert sum(r["n_docs"] for r in rows) == 40
    assert all(r["n_spans"] >= r["n_docs"] for r in rows)
    assert len(rows) >= 2  # multiple windows


def test_ivf_ann_exact_and_recall(spark):
    """IVF at nprobe==n_centroids equals brute force; approximate config
    keeps nonzero recall (synthetic embeddings are near-uniform, so the
    coarse quantizer's recall floor is modest here)."""
    from ksoup_spark.operators import similarity
    from tests.conftest import SF_ORACLE_DIR

    emb = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    bf = similarity.cosine_topk(emb, [0, 1, 2], k=3).collect()
    full = similarity.ivf_ann(emb, [0, 1, 2], k=3, n_centroids=4, nprobe=4,
                              iters=2).collect()
    assert sorted(map(tuple, bf)) == sorted(map(tuple, full))
    approx = similarity.ivf_ann(emb, [0, 1, 2], k=3, n_centroids=8, nprobe=2,
                                iters=3).collect()
    bfset = {(r.query_id, r.neighbor_id) for r in bf}
    apset = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(bfset & apset) / len(bfset) >= 0.2


def test_streaming_stateful_first_seen(spark, tmp_path):
    """applyInPandasWithState dedup: a duplicate arriving in a LATER
    micro-batch is suppressed by the per-hash state."""
    import glob
    import shutil
    import time

    from ksoup_spark.streaming.stream import streaming_first_seen

    base = str(tmp_path)
    (tmp_path / "in").mkdir()
    spark.createDataFrame([("A", "same text"), ("B", "other text")],
                          ["doc_id", "text"]) \
        .coalesce(1).write.parquet(f"{base}/f1")
    spark.createDataFrame([("C", "same text"), ("D", "third text")],
                          ["doc_id", "text"]) \
        .coalesce(1).write.parquet(f"{base}/f2")
    shutil.copy(glob.glob(f"{base}/f1/*.parquet")[0], f"{base}/in/0001.parquet")
    time.sleep(1.1)  # distinct mtimes => file order => two micro-batches
    shutil.copy(glob.glob(f"{base}/f2/*.parquet")[0], f"{base}/in/0002.parquet")
    stream = spark.readStream.schema("doc_id string, text string") \
        .option("maxFilesPerTrigger", 1).parquet(f"{base}/in")
    q = streaming_first_seen(stream).writeStream.format("memory") \
        .queryName("t_firstseen") \
        .option("checkpointLocation", f"{base}/ckpt").outputMode("append") \
        .trigger(availableNow=True).start()
    q.awaitTermination(180)
    docs = sorted(r.doc_id
                  for r in spark.sql("select * from t_firstseen").collect())
    assert docs == ["A", "B", "D"]  # C = cross-batch duplicate, suppressed


def test_html_main_spans_column_fn(spark):
    import ksoup_spark.functions.html as H

    html = ('<nav><a href=x>N</a></nav><article><p>Real content.</p>'
            '<img src="i.png"></article><div class="ads">buy</div>')
    df = spark.createDataFrame([("1", html)], ["doc_id", "html"])
    r = df.select(H.html_main_spans("html").alias("s")).first()
    assert [(x.kind, x.text, x.media_ref) for x in r.s] == [
        ("text", "Real content.", None), ("image", None, "i.png")]


def test_cosine_near_dups_bucketed_finds_dups(spark):
    """Bucketed near-dup (LSH candidates + exact verify) recovers planted
    exact and near-exact duplicates; every emitted pair is exact-verified
    so it is a subset of the all-pairs result."""
    from ksoup_spark.operators import similarity

    base = [[((i * 31 + j * 7) % 17 - 8) / 8.0 for j in range(16)]
            for i in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((100, list(base[3])))                      # exact dup of 3
    near = list(base[5])
    near[0] += 0.01                                        # near dup of 5
    rows.append((101, near))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bucketed = {(r.id_a, r.id_b)
                for r in similarity.cosine_near_dups(
                    emb, threshold=0.95, dim=16).collect()}
    exact = {(r.id_a, r.id_b)
             for r in similarity.cosine_near_dups(
                 emb, threshold=0.95).collect()}
    assert (3, 100) in bucketed          # identical vectors always collide
    assert bucketed <= exact             # exact verify: no false positives
    assert len(bucketed) >= len(exact) - 1  # recall: at most one miss here


def test_lsh_recall_bounds(spark):
    from ksoup_spark.operators import similarity
    from tests.conftest import SF_ORACLE_DIR

    emb = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    rows = similarity.lsh_recall(emb, 64, [0, 1, 2, 3, 4], k=3).collect()
    assert len(rows) == 5
    assert all(0.0 <= r.recall <= 1.0 for r in rows)


def test_auto_lsh_params_scaling():
    """The corpus-scaled (planes, seeds) choice: bucket count tracks n so
    per-seed collisions stay ~linear; seeds satisfy the (1-p^b)^s <= delta
    miss bound; caps bind together."""
    import math

    from ksoup_spark.operators.similarity import auto_lsh_params

    # small corpora resolve to the sf0.01-era plane count with >= the old
    # 6 seeds (superset candidates -> identical exact-verified output)
    b, s = auto_lsh_params(503, 0.95)
    assert b == 4 and s >= 6
    # planes grow with n; never shrink
    prev_b = 0
    for n in [500, 5_000, 50_000, 500_000, 5_000_000]:
        b, s = auto_lsh_params(n, 0.95)
        assert b >= prev_b
        prev_b = b
        # the delta-recall bound holds at the returned (b, s) unless the
        # seed cap bound first
        p = 1 - math.acos(0.95) / math.pi
        if s < 96:
            assert (1 - p**b) ** s <= 1e-3
    # per-seed expected collisions stay ~n * target_bucket / 2 while the
    # plane cap is not binding: n^2 / 2^(b+1) <= n * 128 (ceil slack)
    for n in [10_000, 100_000, 1_000_000]:
        b, _ = auto_lsh_params(n, 0.95)
        assert n * n / 2 ** (b + 1) <= n * 128
    # a tighter recall point costs more seeds, never more than the cap
    _, s_loose = auto_lsh_params(50_000, 0.95)
    _, s_tight = auto_lsh_params(50_000, 0.8)
    assert 96 >= s_tight > s_loose


def test_pipeline_kernel_runs_once_per_doc(spark, tmp_path):
    """Regression: metrics are observed while the spans are written, never
    recomputed by re-running the lineage, so the extraction kernel executes
    exactly once per document per batch (the old spans.groupBy re-ran the
    whole lineage a second time)."""
    from ksoup_spark.operators import extract as ex
    from ksoup_spark.plans import pipeline as pl

    acc = spark.sparkContext.accumulator(0)
    real = ex.extract_spans_from_html

    def spy(html):
        acc.add(1)
        return real(html)

    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans").limit(40)
    n = docs.count()
    ex.extract_spans_from_html = spy
    try:
        pl.run_extraction_pipeline(
            spark, docs, str(tmp_path / "spans"), str(tmp_path / "metrics"),
            num_parts=4, parts_per_batch=2)
    finally:
        ex.extract_spans_from_html = real
    assert acc.value == n, f"kernel executed {acc.value}x for {n} docs"


def test_passage_dedup_removes_cross_doc_banner(spark):
    """Passages shared across documents are stripped; unique ones survive
    in order (CCNet-style passage dedup)."""
    from ksoup_spark.operators import dedup

    banner = "one two three four"  # 4-word passage at size=4
    rows = [(i, f"{banner} unique{i} text{i} here{i} now{i}")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.passage_dedup(docs, size=4, max_df=1).collect()}
    assert len(out) == 6
    for i in range(6):
        r = out[i]
        assert r.n_passages == 2 and r.n_removed == 1
        assert r.clean_text == f"unique{i} text{i} here{i} now{i}"


def test_minhash_lsh_pairs_production_path(spark):
    """The xxhash64 MinHash-LSH path: identical texts pair at est_jaccard
    1.0, a near-duplicate pairs below it, threshold drops what falls under
    it, and texts that share no shingle never reach 1.0."""
    from ksoup_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(1, base), (2, base), (3, base + " today"),
            (4, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (5, "red green blue yellow orange purple pink grey white"),
            (6, "one two three four five six seven eight nine ten")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r.doc_id: r.signature
            for r in dedup.minhash_signatures(docs, num_hashes=32).collect()}
    assert len(sigs[1]) == 32 and sigs[1] == sigs[2] != sigs[3]

    pairs = {(r.doc_a, r.doc_b): r.est_jaccard
             for r in dedup.minhash_lsh_pairs(docs, num_hashes=32,
                                              bands=8).collect()}
    assert all(a < b for a, b in pairs)
    assert pairs[(1, 2)] == 1.0
    near = pairs[(1, 3)]
    assert 0.5 <= near < 1.0
    assert [p for p, est in pairs.items() if est == 1.0] == [(1, 2)]

    cut = near + 0.01
    kept = {(r.doc_a, r.doc_b): r.est_jaccard
            for r in dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8,
                                             threshold=cut).collect()}
    assert kept == {p: est for p, est in pairs.items() if est >= cut}
    assert (1, 2) in kept and (1, 3) not in kept


def test_decontaminate_flags_benchmark_overlap(spark):
    """Docs carrying a benchmark n-gram are flagged; clean docs are not;
    the benchmark side rides a broadcast join (no shuffle of the eval
    set at corpus scale)."""
    from ksoup_spark.operators import dedup

    bench = spark.createDataFrame(
        [(100, "what is the capital of france answer paris")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "intro what is the capital of france answer paris outro"),
         (2, "completely unrelated training text with no overlap at all"),
         (3, "what is the capital of france answer paris")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.decontaminate(docs, bench, n=8, threshold=0.05).collect()}
    # doc 3 IS the benchmark row: every 8-gram hits -> contamination 1.0
    assert out[3].flagged and out[3].contamination == 1.0
    # doc 1 embeds it: 1 of its 3 distinct 8-grams is the benchmark gram
    assert out[1].flagged and out[1].n_contaminated == 1
    assert out[1].n_shingles == 3
    assert not out[2].flagged and out[2].n_contaminated == 0


def test_corpus_split_deterministic_and_proportional(spark):
    """Split assignment is a pure function of the id: identical across
    repartitionings and hash-family-stable; fractions land near the
    requested weights; remainder falls to the last label."""
    import pytest as _pytest

    from ksoup_spark.operators import sampling

    docs = spark.range(4000).select(F.col("id").alias("doc_id"),
                                    F.lit("x").alias("text"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in
         sampling.corpus_split(docs, w).collect()}
    b = {r.doc_id: r.split for r in
         sampling.corpus_split(docs.repartition(13), w).collect()}
    assert a == b  # row order / partitioning never changes the deal
    frac = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.77 <= frac <= 0.83
    # md5 family is its own deal but equally deterministic
    m1 = {r.doc_id: r.split for r in
          sampling.corpus_split(docs, w, hash="md5").collect()}
    m2 = {r.doc_id: r.split for r in
          sampling.corpus_split(docs, w, hash="md5").collect()}
    assert m1 == m2
    # weights summing below 1: remainder goes to the last label
    part = {r.doc_id: r.split for r in
            sampling.corpus_split(docs, {"a": 0.1, "b": 0.1}).collect()}
    fb = sum(1 for s in part.values() if s == "b") / len(part)
    assert fb >= 0.85
    with _pytest.raises(ValueError):
        sampling.corpus_split(docs, {"a": 0.9, "b": 0.2})


def test_pii_scrub_redacts_and_counts(spark):
    """Emails, IPv4s, and phone runs are replaced with typed tokens and
    counted on progressively scrubbed text (an email's digits never
    double-count as a phone); clean text passes through untouched."""
    from ksoup_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "reach john.doe+x@mail.example.org at 192.168.0.1 "
             "or +1 (555) 010-9900 today"),
         (2, "no pii here just v1.2.3 and the number 42")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.pii_scrub(docs).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 1, 1)
    assert out[1].clean_text == \
        "reach [EMAIL] at [IP] or [PHONE] today"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 0, 0)
    assert out[2].clean_text == "no pii here just v1.2.3 and the number 42"


def test_pii_scrub_sql_escapes_quotes(monkeypatch):
    """A pattern with a single quote still yields SQL DuckDB executes, and
    the quote matches literally."""
    import duckdb

    from ksoup_spark.operators import textstats

    email = r"[A-Za-z0-9._%+'-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    monkeypatch.setattr(textstats, "PII_PATTERNS",
                        [("email", email, "[EMAIL]")]
                        + textstats.PII_PATTERNS[1:])
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1 AS doc_id, "
                "'write to o''brien@mail.example.org today' AS text")
    row = con.execute(textstats.pii_scrub_sql()).fetchone()
    assert row == (1, 1, 0, 0, "write to [EMAIL] today")


def test_gopher_quality_flags(spark):
    from ksoup_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "short doc"), (2, " ".join(f"w{i:02d}" for i in range(60)))],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            textstats.gopher_quality(docs, min_words=50).collect()}
    assert not rows[1].keep and not rows[1].ok_word_count
    assert rows[2].ok_word_count and rows[2].ok_alpha_words


def test_repetition_metrics(spark):
    from ksoup_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in textstats.repetition(docs, n=2).collect()}
    assert rows[1].dup_ngram_frac > 0.5       # "a b"/"b a" repeat
    assert rows[2].dup_ngram_frac == 0.0      # all bigrams distinct
    assert rows[2].top_ngram_frac == 0.2      # 1 of 5 bigrams


def test_jaccard_hot_shingle_cut_matches_oracle(spark):
    """A shingle with df >> df_cut must be excluded from intersections
    without ever building its posting list, and the Spark result must
    equal the df-cut-mirrored SQL oracle (denominators stay pre-cut)."""
    import duckdb
    import pandas as pd

    from ksoup_spark.operators import dedup

    banner = "hot stop words"  # one 3-gram shingle present in EVERY doc
    rows = [
        (f"d{i}", f"{banner} unique{i} token{i} filler{i} extra{i}")
        for i in range(8)
    ] + [
        ("p1", f"{banner} alpha beta gamma delta"),
        ("p2", f"{banner} alpha beta gamma epsilon"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)

    got = (
        dedup.jaccard_pairs(df, n=3, threshold=0.3, df_cut=3)
        .orderBy("doc_a", "doc_b")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        dedup.jaccard_pairs_sql("documents", n=3, threshold=0.3, df_cut=3)
        + " ORDER BY doc_a, doc_b"
    ).df()
    assert got["doc_a"].tolist() == want["doc_a"].tolist()
    assert got["doc_b"].tolist() == want["doc_b"].tolist()
    assert got["jaccard"].tolist() == pytest.approx(want["jaccard"].tolist())
    # the planted near-pair must survive on its non-hot shingles
    assert ("p1", "p2") in set(zip(got["doc_a"], got["doc_b"]))
    # and the hot-shingle report names the dropped shingle
    hot = dedup.jaccard_hot_shingles(df, n=3, df_cut=3).collect()
    assert len(hot) >= 1 and all(r["df"] > 3 for r in hot)


def test_jaccard_uncut_matches_uncut_oracle(spark):
    """df_cut=None reproduces the original all-pairs semantics."""
    import duckdb
    import pandas as pd

    from ksoup_spark.operators import dedup

    pdf = pd.DataFrame(
        [
            ("a", "one two three four five six"),
            ("b", "one two three four five seven"),
            ("c", "totally different words here now"),
        ],
        columns=["doc_id", "text"],
    )
    df = spark.createDataFrame(pdf)
    got = (
        dedup.jaccard_pairs(df, n=3, threshold=0.2, df_cut=None)
        .orderBy("doc_a", "doc_b")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        dedup.jaccard_pairs_sql("documents", n=3, threshold=0.2, df_cut=None)
        + " ORDER BY doc_a, doc_b"
    ).df()
    assert got["doc_a"].tolist() == want["doc_a"].tolist()
    assert got["jaccard"].tolist() == pytest.approx(want["jaccard"].tolist())


def test_pipeline_idempotent_after_midbatch_crash(spark, tmp_path):
    """Crash between the spans write and the metrics append must not
    duplicate rows on rerun: the redone partition REPLACES its directory
    (dynamic partition overwrite), with metrics as the commit record."""
    docs = build_docs_table(spark, SF_DIR).select("doc_id", "spans").limit(80)
    out = str(tmp_path / "spans")
    metrics = str(tmp_path / "metrics")
    pipeline.run_extraction_pipeline(
        spark, docs, out, metrics, num_parts=4, parts_per_batch=4)
    total = spark.read.parquet(out).count()
    assert total == docs.count()

    # Simulate the crash state: partition 1's span files exist but its
    # metrics row does not (kill landed between the two writes).
    m = spark.read.parquet(metrics).filter(F.col("part") != 1).collect()
    import shutil
    shutil.rmtree(metrics)
    spark.createDataFrame(m, pipeline.METRICS_SCHEMA) \
        .write.mode("overwrite").parquet(metrics)
    spark.catalog.refreshByPath(metrics)  # drop stale file-listing cache

    r = pipeline.run_extraction_pipeline(
        spark, docs, out, metrics, num_parts=4, parts_per_batch=4)
    assert r["processed_parts"] == [1]  # only the uncommitted partition redone
    got = spark.read.parquet(out)
    assert got.count() == total  # no appended duplicates
    assert got.select("doc_id").distinct().count() == total
    m2 = spark.read.parquet(metrics)
    assert m2.select("part").distinct().count() == 4
    assert m2.agg(F.sum("n_docs")).first()[0] == total


def test_repetition_linear_on_long_doc(spark):
    """Regression: top-gram counting was O(distinct x grams) per row — a
    CPU bomb on 100k-word documents. The sorted run-length fold must
    handle one in bounded time with unchanged values."""
    import time

    from ksoup_spark.operators import textstats

    words = [f"w{i % 50}" for i in range(100_000)] + ["rep", "rep", "rep"]
    df = spark.createDataFrame([("big", " ".join(words))],
                               "doc_id string, text string")
    t0 = time.perf_counter()
    row = textstats.repetition(df, n=2).first()
    assert time.perf_counter() - t0 < 60
    assert row["n_ngrams"] == 100_002
    # "w49 w0"-style bigrams repeat ~2000x; value sanity vs a python count
    from collections import Counter
    grams = [" ".join(words[i:i + 2]) for i in range(len(words) - 1)]
    c = Counter(grams)
    assert row["top_ngram_frac"] == round(max(c.values()) / len(grams), 4)


def test_shingles_and_passages_linear_on_long_doc(spark):
    """Regression: split() referenced inside a higher-order lambda is
    re-evaluated per element, making gram/chunk construction O(L²) per
    row. The projected-words forms must handle a 100k-word doc quickly."""
    import time

    from ksoup_spark.operators import dedup

    words = [f"w{i}" for i in range(100_000)]
    df = spark.createDataFrame([("big", " ".join(words))],
                               "doc_id string, text string")
    t0 = time.perf_counter()
    assert dedup.shingles(df, n=3).count() == 99_998
    assert time.perf_counter() - t0 < 60
    t0 = time.perf_counter()
    assert dedup.passages(df, size=8).count() == 12_500
    assert time.perf_counter() - t0 < 60


def test_near_dup_clusters_transitive(spark):
    """Clusters follow TRANSITIVE closure (a~b, b~c => one cluster) and
    singletons stay canonical — pairs alone can't express this."""
    import pandas as pd

    from ksoup_spark.operators import dedup

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5]}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 4], "doc_b": [2, 3, 5]}))
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup.near_dup_clusters(docs, pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (4, True), 5: (4, False)}


def test_near_dup_clusters_path_graph_converges(spark):
    """A path graph is the worst case for label propagation; the loop must
    still converge to one cluster within max_iters."""
    import pandas as pd

    from ksoup_spark.operators import dedup

    n = 12
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"doc_a": list(range(n - 1)), "doc_b": list(range(1, n))}))
    rows = dedup.near_dup_clusters(docs, pairs, max_iters=20).collect()
    assert all(r["cluster_id"] == 0 for r in rows)
    assert sum(r["is_canonical"] for r in rows) == 1


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured (the cluster posture), rounds use
    reliable DataFrame.checkpoint(): executor-loss-safe lineage truncation.
    Same answers, and checkpoint data actually lands in the dir."""
    import os

    import pandas as pd

    from ksoup_spark.operators import dedup

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 4, 5]}))
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": [1, 2, 4], "doc_b": [2, 3, 5]}))
        got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
               for r in dedup.near_dup_clusters(docs, pairs).collect()}
        assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                       4: (4, True), 5: (4, False)}
        walked = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert walked, "reliable checkpoint wrote nothing to the dir"
    finally:
        # don't leak the dir setting into other tests (session is shared)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
