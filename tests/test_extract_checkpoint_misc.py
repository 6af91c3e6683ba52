"""Extraction byte-parity, checkpoint/resume idempotence, planner, and
multimodal plumbing tests."""

from __future__ import annotations

import json
import os

import pytest

from distributed_lsh_spark.functions.extract import extract_text, with_extracted_text
from distributed_lsh_spark.plans.planner import minhash_collision_prob, plan_bands


# ------------------------------------------------------------- extraction

def test_extract_text_deterministic_and_sane():
    html = (b"<html><head><title>T</title><script>var x=1;</script>"
            b"<style>p{}</style></head><body><p>Hello &amp; world</p>"
            b"<div>line2</div><!-- comment --></body></html>")
    out = extract_text(html)
    assert out == extract_text(html)                 # byte-stable
    assert "Hello & world" in out
    assert "var x" not in out and "comment" not in out
    assert extract_text(b"") == ""
    assert extract_text("&#65;&#x42;") == "AB"
    assert extract_text(b"\xff\xfeplain") != ""      # bad UTF-8 -> replacement


def test_py_whitespace_class_is_exactly_str_isspace():
    from distributed_lsh_spark.functions.extract import PY_WHITESPACE

    computed = {chr(c) for c in range(0x110000) if chr(c).isspace()}
    assert set(PY_WHITESPACE) == computed


_ADVERSARIAL_HTML = [
    b"",
    b"plain no tags",
    b"\xff\xfebad utf8 <b>x</b>",
    b"<script>var x=1;</script>keep<style a='b'>p{}</style>",
    b"<script\nsrc='x'>drop</script\t>after",
    b"<scriptfoo>not a script tag</scriptfoo>",
    b"<br><br/><BR  ><brs>x</p ></div\t>",
    b"&amp;#65; &#66; &#x43; &#xZZ; &#999999999;",
    "line    edge\n　\nnext\n\n\nend ".encode(),
    b"<!-- c1 --><p>a</p><!-- multi\nline -->b",
    b"a  \t b\r\n c \f d",
    "<p>unicode téxt</p>".encode(),
    b"<h3 class=x>t</h3><li>i</li><tr><td>c</td></tr>",
]


def test_extract_udf_matches_python(spark, tiny_corpus):
    rows = [(i, r["html"]) for i, r in enumerate(tiny_corpus.rows[:50])]
    rows += [(1000 + i, h) for i, h in enumerate(_ADVERSARIAL_HTML)]
    df = spark.createDataFrame(
        [(i, bytearray(h)) for i, h in rows], "doc_id long, html binary")
    got = {r["doc_id"]: r["text"] for r in with_extracted_text(df).collect()}
    expect = {i: extract_text(h) for i, h in rows}
    assert got == expect                              # byte-identical per url


def test_extract_batch_matches_python_directly():
    """RE2 batch path == Python re path on the adversarial set without
    Spark in the loop (so a failure localizes to the regex engines)."""
    import pandas as pd

    from distributed_lsh_spark.functions.extract import extract_text_batch

    got = extract_text_batch(pd.Series(list(_ADVERSARIAL_HTML), dtype=object))
    expect = [extract_text(h) for h in _ADVERSARIAL_HTML]
    assert list(got) == expect


def test_extract_recovers_fixture_text(tiny_corpus):
    """The fixture html wraps text in a known template; extraction must
    recover the title + body exactly (invertibility by construction)."""
    r = tiny_corpus.rows[0]
    out = extract_text(r["html"])
    assert r["text"] in out


# ------------------------------------------------------------- checkpoint

def test_checkpoint_resume_skips_completed(spark, tmp_path):
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumnRenamed("id", "doc_id")

    ckpt = CheckpointManager(spark, str(tmp_path), run_id="r1",
                             config_echo={"k": 5})
    df1 = ckpt.stage("sigs", build)
    assert calls["n"] == 1 and df1.count() == 100
    # resume: same run_id + same config -> build skipped
    ckpt2 = CheckpointManager(spark, str(tmp_path), run_id="r1",
                              config_echo={"k": 5})
    df2 = ckpt2.stage("sigs", build)
    assert calls["n"] == 1 and df2.count() == 100
    # new run_id -> rebuild
    ckpt3 = CheckpointManager(spark, str(tmp_path), run_id="r2")
    ckpt3.stage("sigs", build)
    assert calls["n"] == 2

    with open(os.path.join(str(tmp_path), "r1", "sigs", "manifest.json")) as f:
        m = json.load(f)
    assert m["status"] == "complete" and m["rows"] == 100
    assert m["config_echo"] == {"k": 5}

    counters = ckpt.partition_counters("sigs")
    assert counters.agg({"rows": "sum"}).collect()[0][0] == 100


def test_checkpoint_config_change_rebuilds(spark, tmp_path):
    """Same --run-id but a different DedupConfig must NOT silently reuse
    stage checkpoints built for the old config."""
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "doc_id")

    CheckpointManager(spark, str(tmp_path), run_id="r1",
                      config_echo={"threshold": 0.8}).stage("sigs", build)
    assert calls["n"] == 1
    # changed threshold, same run_id -> stale checkpoint, rebuild
    CheckpointManager(spark, str(tmp_path), run_id="r1",
                      config_echo={"threshold": 0.9}).stage("sigs", build)
    assert calls["n"] == 2
    # and back to the (rewritten) config -> skip again
    CheckpointManager(spark, str(tmp_path), run_id="r1",
                      config_echo={"threshold": 0.9}).stage("sigs", build)
    assert calls["n"] == 2


def test_checkpoint_stale_bucket_table_not_preferred(spark, tmp_path):
    """read() must not serve a stale session-catalog bucketed table: (a) a
    stage rewritten WITHOUT bucket_by drops the old catalog entry; (b) a
    manager with the same run_id but a different base dir does not read
    another directory's table just because the generated name collides."""
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    # (a) bucketed write, then a re-write of the same stage unbucketed
    ck = CheckpointManager(spark, str(tmp_path / "a"), run_id="rr")
    ck.write("st", spark.range(5).withColumnRenamed("id", "doc_id"),
             bucket_by=(4, "doc_id"))
    assert ck.read("st").count() == 5
    ck.write("st", spark.range(8).withColumnRenamed("id", "doc_id"))
    assert ck.read("st").count() == 8          # fresh data, not the stale table
    assert not spark.catalog.tableExists(ck._bucket_table("st"))

    # (b) same run_id, different base dirs -> colliding table name; the
    # second manager's read() must return ITS directory's data
    ck1 = CheckpointManager(spark, str(tmp_path / "b1"), run_id="rr2")
    ck1.write("st", spark.range(3).withColumnRenamed("id", "doc_id"),
              bucket_by=(2, "doc_id"))
    ck2 = CheckpointManager(spark, str(tmp_path / "b2"), run_id="rr2")
    # simulate the second manager's stage data existing on disk only
    # (written by another session): bare parquet at its data dir
    spark.range(7).withColumnRenamed("id", "doc_id").write.parquet(
        str(tmp_path / "b2" / "rr2" / "st" / "data"))
    # the catalog holds ck1's table under the SAME generated name; ck2
    # must not prefer it (location mismatch) and must read its own dir
    assert ck1._bucket_table("st") == ck2._bucket_table("st")
    assert ck2.read("st").count() == 7
    assert ck1.read("st").count() == 3         # ck1 still reads its table
    spark.sql(f"DROP TABLE IF EXISTS {ck1._bucket_table('st')}")


def test_checkpoint_file_uri_roundtrip(spark, tmp_path):
    """The resume contract must survive a NON-os.path filesystem: drive the
    whole manifest/write/rename/resume cycle through a `file:` URI — the
    layer an os.*-based probe rejects (os.path.exists('file:/x') is False),
    standing in for hdfs:/s3a: roots where the old implementation silently
    targeted the driver's local disk."""
    import os as _os

    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    root_uri = "file:" + str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(37).withColumnRenamed("id", "doc_id")

    ckpt = CheckpointManager(spark, root_uri, run_id="ru",
                             config_echo={"k": 5})
    df1 = ckpt.stage("sigs", build)
    assert calls["n"] == 1 and df1.count() == 37
    # manifest + atomically-renamed data dir really landed under the URI
    local = _os.path.join(str(tmp_path), "ru", "sigs")
    assert _os.path.exists(_os.path.join(local, "manifest.json"))
    assert _os.path.exists(_os.path.join(local, "data"))
    assert not _os.path.exists(_os.path.join(local, "_tmp"))
    assert ckpt.rows("sigs") == 37

    # resume through the URI: build skipped, data read back
    ckpt2 = CheckpointManager(spark, root_uri, run_id="ru",
                              config_echo={"k": 5})
    assert ckpt2.is_complete("sigs")
    df2 = ckpt2.stage("sigs", build)
    assert calls["n"] == 1 and df2.count() == 37
    # config change still invalidates across the FS layer
    ckpt3 = CheckpointManager(spark, root_uri, run_id="ru",
                              config_echo={"k": 7})
    assert not ckpt3.is_complete("sigs")


def test_manifest_rewrite_over_existing(spark, tmp_path):
    """write_text_atomic must replace an EXISTING manifest: Hadoop rename
    does not overwrite (HDFS returns false), so the rewrite path — an
    Iceberg-backed stage rebuilt under a new config, whose old
    manifest.json stays in place — needs the delete-then-rename branch."""
    from distributed_lsh_spark.sources.checkpoint import _HadoopFS

    fs = _HadoopFS(spark, "file:" + str(tmp_path))
    p = "file:" + str(tmp_path / "manifest.json")
    fs.write_text_atomic(p, '{"v": 1}')
    fs.write_text_atomic(p, '{"v": 2}')
    assert fs.read_text(p) == '{"v": 2}'
    assert not fs.exists(p + ".tmp")


def test_checkpoint_iceberg_branch(spark, tmp_path, monkeypatch):
    """No Iceberg jars in this sandbox, so exercise the branch itself:
    use_iceberg=True must route through writeTo with the bucket transform
    (captured via monkeypatch) and read back via the catalog table."""
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path), run_id="rI",
                             config_echo={"k": 5})
    ckpt.use_iceberg = True
    seen = {}

    def fake_iceberg(name, df, partition_by, bucket_by):
        seen["table"] = ckpt._table(name)
        seen["bucket_by"] = bucket_by
        seen["partition_by"] = partition_by
        return df  # stand in for spark.read.table(...)

    monkeypatch.setattr(ckpt, "_write_iceberg", fake_iceberg)
    df = spark.range(20).withColumnRenamed("id", "doc_id")
    out = ckpt.write("sigs", df, bucket_by=(64, "doc_id"))
    assert out.count() == 20
    assert seen["table"] == "dedup_ckpt.rI_sigs"
    assert seen["bucket_by"] == (64, "doc_id")
    with open(os.path.join(str(tmp_path), "rI", "sigs", "manifest.json")) as f:
        m = json.load(f)
    assert m["status"] == "complete" and m["rows"] == 20


# ------------------------------------------------------------- planner

def test_plan_bands_reaches_recall():
    b, r = plan_bands(128, target_jaccard=0.8, min_recall=0.99)
    assert b * r == 128
    assert minhash_collision_prob(0.8, b, r) >= 0.99
    # frozen config (32, 4) satisfies the same constraint
    assert minhash_collision_prob(0.8, 32, 4) >= 0.99


def test_plan_bands_impossible_raises():
    with pytest.raises(ValueError):
        plan_bands(4, target_jaccard=0.05, min_recall=0.999)


# ------------------------------------------------------------- multimodal

def test_media_features_plumbing(spark):
    from distributed_lsh_spark.functions.multimodal import (
        FEATURE_DIM, frame_sample, media_features,
    )

    rows = [(i, "image" if i % 2 else "video", "application/octet-stream",
             64, 64, 3000, bytearray(bytes([i % 256]) * 100)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, width int, "
              "height int, duration_ms int, payload binary")
    feats = media_features(df).collect()
    assert len(feats) == 10
    assert all(len(r["feature"]) == FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = media_features(df).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == \
           {r["media_id"]: r["feature"] for r in feats2}

    frames = frame_sample(df, every_ms=1000).collect()
    n_videos = sum(1 for r in rows if r[1] == "video")
    assert len(frames) == n_videos * 3
    assert {r["frame_ts_ms"] for r in frames} == {0, 1000, 2000}


def test_media_decode_stub_raises_for_real_path():
    from distributed_lsh_spark.functions.multimodal import _decode_image

    with pytest.raises(NotImplementedError):
        _decode_image(b"abc", fake=False)


def _ppm_bytes(img):
    h, w = img.shape[:2]
    return (f"P6\n# comment\n{w} {h}\n255\n".encode() + img.tobytes())


def _bmp_bytes(img, top_down=False):
    import numpy as np
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = img if top_down else img[::-1]
    body = bytearray()
    for r in rows:
        line = r[:, ::-1].tobytes()                     # RGB -> BGR
        body += line + b"\x00" * (stride - len(line))
    off = 14 + 40
    header = (b"BM" + (off + len(body)).to_bytes(4, "little") + b"\x00" * 4
              + off.to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + (h if not top_down else -h).to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
              + b"\x00" * 16)
    return bytes(header) + bytes(body)


def _test_img(h=13, w=10):
    import numpy as np
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([(y * 17) % 256, (x * 29) % 256, (y + x) % 256],
                    axis=2).astype(np.uint8)


def test_image_decoders_roundtrip():
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import decode_bmp, decode_ppm

    img = _test_img()
    assert np.array_equal(decode_ppm(_ppm_bytes(img)), img)
    assert np.array_equal(decode_bmp(_bmp_bytes(img)), img)            # bottom-up
    assert np.array_equal(decode_bmp(_bmp_bytes(img, top_down=True)), img)


def test_media_features_real_decode_path(spark):
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import (
        FEATURE_DIM, decode_image, image_feature, media_features,
    )

    img = _test_img(32, 24)
    rows = [(1, "image", "image/x-portable-pixmap", 24, 32, 0,
             bytearray(_ppm_bytes(img))),
            (2, "image", "image/bmp", 24, 32, 0, bytearray(_bmp_bytes(img)))]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, width int, "
              "height int, duration_ms int, payload binary")
    got = {r["media_id"]: r["feature"]
           for r in media_features(df, fake=False).collect()}
    expect = image_feature(img).tolist()
    for mid in (1, 2):
        assert len(got[mid]) == FEATURE_DIM
        assert np.allclose(got[mid], expect, atol=1e-6)
    # the two encodings of the same pixels agree exactly
    assert got[1] == got[2]
    # codec-lib formats stay the documented NotImplementedError seam
    # (PNG and baseline JPEG decode natively now — webp is the seam)
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ...")
    # a PNG/JPEG signature with torn data is a hard error, not a seam
    with _pytest.raises(Exception):
        decode_image(b"\x89PNG\r\n\x1a\n...")
    with _pytest.raises(Exception):
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 8)


def _wav_bytes(samples, rate=8000, bits=16, channels=1, extra_chunk=True):
    """Minimal RIFF/WAVE PCM encoder for tests (optionally with a LIST
    chunk before fmt to exercise the chunk walk)."""
    import numpy as np

    if bits == 16:
        data = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
    else:
        data = ((np.clip(samples, -1, 1) * 127) + 128).astype(np.uint8).tobytes()
    block = channels * bits // 8
    fmt = ((1).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block).to_bytes(4, "little")
           + block.to_bytes(2, "little") + bits.to_bytes(2, "little"))
    chunks = b""
    if extra_chunk:
        chunks += b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    chunks += b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_decoder_roundtrip():
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import decode_wav

    t = np.arange(800) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    got, rate = decode_wav(_wav_bytes(sig))
    assert rate == 8000
    assert np.allclose(got, sig, atol=2e-4)   # 16-bit quantization error
    # 8-bit path + stereo downmix
    stereo = np.stack([sig, -sig], axis=1).ravel()
    got2, _ = decode_wav(_wav_bytes(stereo, bits=16, channels=2))
    assert np.allclose(got2, 0.0, atol=1e-4)          # L+R cancel
    got3, _ = decode_wav(_wav_bytes(sig, bits=8))
    assert np.allclose(got3, sig, atol=0.015)  # 8-bit quantization error


def test_media_features_real_audio_path(spark):
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import (
        FEATURE_DIM, audio_feature, decode_wav, media_features,
    )

    t = np.arange(1600) / 8000.0
    sig = (np.sin(2 * np.pi * 220 * t)
           * np.linspace(0, 1, len(t)))               # rising envelope
    rows = [(7, "audio", "audio/wav", None, None, 200,
             bytearray(_wav_bytes(sig)))]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, width int, "
              "height int, duration_ms int, payload binary")
    [r] = media_features(df, fake=False).collect()
    expect = audio_feature(*decode_wav(_wav_bytes(sig)))
    assert len(r["feature"]) == FEATURE_DIM
    assert np.allclose(r["feature"], expect, atol=1e-6)
    # the RMS envelope of a rising-amplitude tone rises
    f = np.array(r["feature"])
    assert f[-1] > f[1] > 0


def _make_y4m(frames, w, h, fps=(4, 1), cs=b"C420") -> bytes:
    """Synthesize a YUV4MPEG2 stream: given (h, w) uint8 luminance planes,
    chroma planes are filled with 0x80 (neutral)."""
    import numpy as np

    chroma = {b"C420": 2 * ((w // 2) * (h // 2)), b"C422": 2 * ((w // 2) * h),
              b"C444": 2 * w * h, b"Cmono": 0,
              b"C420jpeg": 2 * ((w // 2) * (h // 2))}[cs]
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 %s\n"
           % (w, h, fps[0], fps[1], cs)]
    for f in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(f, dtype=np.uint8).tobytes())
        out.append(b"\x80" * chroma)
    return b"".join(out)


def test_y4m_decoder_roundtrip():
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import decode_y4m

    rng = np.random.default_rng(3)
    w, h = 12, 8
    planes = [rng.integers(0, 256, size=(h, w), dtype=np.uint8)
              for _ in range(5)]
    for cs in (b"C420", b"C422", b"C444", b"Cmono"):
        frames, fps = decode_y4m(_make_y4m(planes, w, h, cs=cs))
        assert fps == 4.0
        assert len(frames) == 5
        for got, want in zip(frames, planes):
            assert (got == want).all()
    with pytest.raises(ValueError):
        decode_y4m(b"RIFFnope\n")
    with pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W12 H8 F4:1 C411\nFRAME\n" + b"\x00" * 256)
    # high-bit-depth tags must hit the NotImplementedError seam, not be
    # prefix-matched as 8-bit (which would halve frame_bytes -> garbage)
    for cs in (b"C420p10", b"C422p12", b"C444p16", b"C420mpeg2extra"):
        with pytest.raises(NotImplementedError):
            decode_y4m(b"YUV4MPEG2 W12 H8 F4:1 " + cs + b"\nFRAME\n"
                       + b"\x00" * 1024)
    # named 8-bit 4:2:0 variants decode identically
    frames, _ = decode_y4m(_make_y4m(planes, w, h, cs=b"C420jpeg"))
    assert (frames[0] == planes[0]).all()


def test_multimodal_gate_oracle_matches_decoders():
    """3-way pin for the multimodal gate row (no Spark needed): the DuckDB
    oracle — feature math replayed in SQL over the PLANTED arrays — must
    equal the real decode+feature chain run on the ENCODED payloads, and
    the image decoders must recover the planted pixels bit-exactly."""
    import duckdb

    from distributed_lsh_spark.fixtures import make_media_gate_fixture
    from distributed_lsh_spark.functions import multimodal as mm
    from distributed_lsh_spark.oracle.multimodal_gate_sql import (
        sql_multimodal_features,
    )

    media = make_media_gate_fixture()
    con = duckdb.connect()
    duck = sorted(con.sql(sql_multimodal_features(media)).fetchall())
    exp = []
    for m in media:
        if m["kind"] == "audio":
            f = mm.audio_feature(*mm.decode_wav(m["payload"]))
        elif m["kind"] == "video":
            frames, _ = mm.decode_y4m(m["payload"])
            f = mm.image_feature(frames[0])
        else:
            f = mm.image_feature(mm.decode_image(m["payload"]))
        exp.extend((m["media_id"], m["kind"], i, round(float(v), 6))
                   for i, v in enumerate(f))
    assert len(duck) == len(media) * mm.FEATURE_DIM
    assert duck == sorted(exp)
    for m in media:
        if m["kind"] == "image":
            assert (mm.decode_image(m["payload"]) == m["pixels"]).all()


def test_frame_sample_real_y4m(spark):
    """fake=False frame sampling: real decode, one sample per every_ms of
    n_frames/fps stream time, luminance-thumbnail features."""
    import numpy as np

    from distributed_lsh_spark.functions.multimodal import (
        FEATURE_DIM, frame_sample, image_feature,
    )

    w, h = 16, 16
    # 8 frames at 4 fps = 2000 ms; constant-value frames 0,32,64,...
    planes = [np.full((h, w), v * 32, dtype=np.uint8) for v in range(8)]
    payload = _make_y4m(planes, w, h, fps=(4, 1))
    df = spark.createDataFrame(
        [(1, "video", "video/x-y4m", w, h, 2000, bytearray(payload))],
        schema="media_id long, kind string, mime string, width int, "
               "height int, duration_ms int, payload binary")
    rows = {r["frame_ts_ms"]: r["feature"]
            for r in frame_sample(df, every_ms=500, fake=False).collect()}
    assert sorted(rows) == [0, 500, 1000, 1500]
    for ts, frame_idx in [(0, 0), (500, 2), (1000, 4), (1500, 6)]:
        want = image_feature(planes[frame_idx])
        assert len(rows[ts]) == FEATURE_DIM
        assert np.allclose(rows[ts], want)


def test_html_extract_oracle_matches_python_extractor():
    """The html_extract gate's DuckDB pass-sequence replay must be
    BYTE-identical to the pure-Python extractor spec on the same
    synthesized html (input_hint: byte-identical extracted text)."""
    import duckdb

    from distributed_lsh_spark.entry_queries import (
        _HTML_POST, _HTML_PRE_PARTS, _sql_html_extract,
    )
    from distributed_lsh_spark.functions.extract import extract_text

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet')")
    got = {r[0]: (r[1], r[2])
           for r in con.sql(_sql_html_extract()).fetchall()}
    rows = con.sql("SELECT doc_id, text FROM documents").fetchall()
    import hashlib
    p0, p1, p2 = _HTML_PRE_PARTS
    for doc_id, text in rows:
        html = (f"{p0}{doc_id}{p1}{doc_id}{p2}"
                f"{text.replace('&#', '&')}{_HTML_POST}")
        ext = extract_text(html)
        want = (hashlib.md5(ext.encode()).hexdigest(), len(ext))
        assert got[doc_id] == want, doc_id


def test_manifest_carries_partition_lineage(spark, tmp_path):
    """north_rule: checkpoints carry per-partition lineage + metrics —
    the manifest's partition_rows must sum to rows and come from the
    single post-write scan."""
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path), run_id="rp",
                             config_echo={})
    ckpt.stage("s", lambda: spark.range(1000).repartition(7)
               .withColumnRenamed("id", "doc_id"))
    m = ckpt.manifest("s")
    assert sum(m["partition_rows"].values()) == m["rows"] == 1000
    assert m["n_partitions"] == len(m["partition_rows"])


def test_parquet_bucketed_stage_colocates_verify_joins(spark, tmp_path):
    """bucket_by on the PARQUET backend writes a native Spark bucketed
    table: the verify stage's payload joins, planned as sort-merge joins,
    read the bucketed scans with NO Exchange, and resume + bare-directory
    reads return the same rows (VERDICT r4 item 6 — the Iceberg
    bucket(N, doc_id) co-location contract, demonstrable locally)."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.conf import DEFAULT_CONFIG as CFG
    from distributed_lsh_spark.operators.verify import verify_pairs
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id"), F.col("id") + 1,
                    F.col("id") + 2).alias("shingles"))

    ckpt = CheckpointManager(spark, str(tmp_path), run_id="rb",
                             config_echo={"k": 5})
    sigs = ckpt.stage("signatures", build, bucket_by=(8, "doc_id"))
    assert calls["n"] == 1 and sigs.count() == 400
    assert spark.catalog.tableExists(ckpt._bucket_table("signatures"))

    # resume hits the manifest and reads the bucketed table back
    ckpt2 = CheckpointManager(spark, str(tmp_path), run_id="rb",
                              config_echo={"k": 5})
    sigs2 = ckpt2.stage("signatures", build, bucket_by=(8, "doc_id"))
    assert calls["n"] == 1 and sigs2.count() == 400

    # the bare data directory holds the same rows (cross-session fallback)
    bare = spark.read.parquet(os.path.join(str(tmp_path), "rb",
                                           "signatures", "data"))
    assert bare.count() == 400

    pairs = spark.range(50).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b"))

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # static plan + no auto-broadcast so Exchange counts are stable
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        v_bucketed = verify_pairs(pairs, sigs2, CFG,
                                  keep_below_threshold=True)
        plan_b = v_bucketed._jdf.queryExecution().executedPlan().toString()
        v_plain = verify_pairs(pairs, bare, CFG,
                               keep_below_threshold=True)
        plan_p = v_plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)

    # bucketed scans carry the metadata and drop their Exchanges: only the
    # bare pair list still shuffles (once per payload join)
    assert "Bucketed: true" in plan_b
    assert plan_b.count("Exchange") == 2
    assert plan_p.count("Exchange") > plan_b.count("Exchange")

    got_b = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in v_bucketed.collect()}
    got_p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in v_plain.collect()}
    assert got_b == got_p and len(got_b) == 50


def test_png_decoder_roundtrip_all_filters_and_color_types():
    """Pure zlib+NumPy PNG decode (VERDICT r4 item 4): every scanline
    filter type, every supported color type, split IDAT — all recover the
    planted pixels bit-exactly; 16-bit depth and Adam7 stay honest
    NotImplementedError seams."""
    import struct

    import numpy as np
    import pytest as _pytest

    from distributed_lsh_spark.fixtures import encode_png
    from distributed_lsh_spark.functions.multimodal import (
        decode_image, decode_png,
    )

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(15, 11, 3), dtype=np.uint8)
    for f in range(5):                      # each filter alone
        payload = encode_png(img, filters=[f] * 15)
        assert np.array_equal(decode_png(payload), img), f"filter {f}"
    # all filters mixed + IDAT split in two chunks, via the dispatcher
    payload = encode_png(img, split_idat=True)
    assert np.array_equal(decode_image(payload), img)

    rgba = rng.integers(0, 256, size=(6, 9, 4), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(rgba, ctype=6)),
                          rgba[:, :, :3])
    gray = rng.integers(0, 256, size=(5, 8), dtype=np.uint8)
    got = decode_png(encode_png(gray, ctype=0))
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    ga = rng.integers(0, 256, size=(5, 8, 2), dtype=np.uint8)
    got = decode_png(encode_png(ga, ctype=4))
    assert np.array_equal(got, np.repeat(ga[:, :, :1], 3, axis=2))
    plte = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(4, 6), dtype=np.uint8)
    got = decode_png(encode_png(idx, ctype=3, palette=plte))
    assert np.array_equal(got, plte[idx])

    # Adam7 interlacing: seven independently-filtered passes scatter
    # back exactly, including tiny images where later passes are empty
    assert np.array_equal(decode_png(encode_png(img, interlace=True)),
                          img)
    for hw in [(1, 1), (2, 3), (5, 5), (9, 16), (3, 1)]:
        x = rng.integers(0, 256, size=(*hw, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_png(encode_png(x, interlace=True)), x), hw
    # 16-bit depth: samples widened to v*257 reduce back via the high
    # byte — exact; composes with Adam7
    assert np.array_equal(
        decode_png(encode_png(gray, ctype=0, depth=16)),
        np.repeat(gray[:, :, None], 3, axis=2))
    assert np.array_equal(
        decode_png(encode_png(img, depth=16, interlace=True)), img)

    # seams: packed 1/2/4-bit depths raise, never mis-decode
    p = bytearray(encode_png(img))
    depth_off = 8 + 8 + 8                   # sig + len/type + w/h
    p[depth_off] = 4
    with _pytest.raises(NotImplementedError):
        decode_png(bytes(p))
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")   # webp seam
    assert struct  # silence unused-import lint in minimal environments


def test_jpeg_decoder_baseline_paths():
    """Pure-NumPy baseline JPEG (ITU-T T.81): marker walk, carried-DHT
    Huffman decode with byte unstuffing, dezigzag + dequant, orthonormal
    IDCT, 4:4:4 / 4:2:0 / grayscale sampling.  Constant 8x8 tiles with
    R==G==B round-trip EXACTLY (AC=0, DC path divides out); random
    content bounds within quantization loss; non-baseline frames raise."""
    import numpy as np
    import pytest as _pytest

    from distributed_lsh_spark.fixtures import encode_jpeg
    from distributed_lsh_spark.functions.multimodal import (
        decode_image, decode_jpeg,
    )

    rng = np.random.default_rng(3)
    tiles = rng.integers(10, 246, size=(3, 4), dtype=np.uint8)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    assert np.array_equal(decode_jpeg(encode_jpeg(rgb)), rgb)
    # grayscale single-component, via the dispatcher
    assert np.array_equal(decode_image(encode_jpeg(img)), rgb)

    # lossy paths: bounded error on random content (flat q_ac=16 is
    # coarse; noise is the DCT's worst case), tight on smooth content
    x = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(x)).astype(int) - x.astype(int)
    assert np.abs(d).max() <= 40 and np.abs(d).mean() < 10
    gy, gx = np.mgrid[0:32, 0:40]
    sm = np.stack([(gy * 3 + 20) % 200 + 20, (gx * 2 + 30) % 200 + 20,
                   ((gy + gx) * 2) % 200 + 20], axis=2).astype(np.uint8)
    d2 = decode_jpeg(encode_jpeg(sm, subsample=True)).astype(int) \
        - sm.astype(int)
    assert np.abs(d2).max() <= 16          # 4:2:0 MCU geometry correct

    # restart intervals (DRI/RSTn): byte-aligned segments with DC
    # predictor resets decode identically to the unsegmented stream
    for ri in (1, 3):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(rgb, restart_interval=ri)), rgb)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(x, restart_interval=2)),
        decode_jpeg(encode_jpeg(x)))
    assert np.array_equal(
        decode_jpeg(encode_jpeg(sm, subsample=True, restart_interval=1)),
        decode_jpeg(encode_jpeg(sm, subsample=True)))

    # seams: progressive (SOF2) and 12-bit stay NotImplementedError
    p = bytearray(encode_jpeg(rgb))
    sof = p.index(b"\xff\xc0")
    p[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(p))
    p = bytearray(encode_jpeg(rgb))
    p[sof + 4] = 12                        # precision byte
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(p))
