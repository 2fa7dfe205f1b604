"""Multimodal plumbing tests (E5): binary columns + mapInPandas decode /
frame-sample with the deterministic fake decoder (real media libs are not
in this container — the STUB is explicit in operators/multimodal.py)."""

from __future__ import annotations

import pytest

from jurimetria_etl_spark.operators.multimodal import (
    attach_text_as_binary,
    extract_media_metadata,
    fake_image_decoder,
    read_binary_files,
    sample_frames,
    unavailable_decoder,
)
from jurimetria_etl_spark.sources.fixtures import load_fixture

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media_df(spark):
    docs = load_fixture(spark, SF, "documents").limit(20)
    return attach_text_as_binary(docs)


def test_binary_column_roundtrip(spark, media_df):
    r = media_df.select("path", "length", "content").first()
    assert r["path"].startswith("mem://doc/")
    assert r["length"] == len(bytes(r["content"]))


def test_extract_media_metadata_fake_decoder(spark, media_df):
    out = extract_media_metadata(media_df, decode_fn=fake_image_decoder)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        meta = r["meta"]
        assert meta["media_type"] == "image"
        assert 1 <= meta["width"] <= 640
        assert meta["duration_ms"] is None
    # deterministic: same input → same metadata
    again = extract_media_metadata(media_df, decode_fn=fake_image_decoder).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_unavailable_decoder_raises(spark, media_df):
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        extract_media_metadata(media_df, decode_fn=unavailable_decoder).collect()


def test_sample_frames_shape(spark, media_df):
    frames = sample_frames(media_df, every_n_bytes=64, max_frames=4)
    rows = frames.collect()
    assert {r["src"] for r in rows} <= {r["path"] for r in media_df.collect()}
    per_src: dict[str, list[int]] = {}
    for r in rows:
        per_src.setdefault(r["src"], []).append(r["frame_idx"])
        assert len(bytes(r["frame"])) <= 64
    for idxs in per_src.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense 0..n-1
        assert len(idxs) <= 4


def test_sample_frames_match_duckdb_byte_slices(spark, duck):
    """Frames of every fixture document against DuckDB's slices of the
    same text.  DuckDB has no BLOB substring, so the oracle slices
    characters and then encodes: byte-exact only on ASCII text (pinned in
    tests/test_tpch.py::test_documents_are_ascii)."""
    from pyspark.sql import functions as F

    sql = """
SELECT 'mem://doc/' || doc_id AS src,
       CAST(i AS INT) AS frame_idx,
       hex(encode(substring(text, CAST(i * 256 + 1 AS BIGINT), 256))) AS frame_hex
FROM documents,
     UNNEST(generate_series(
       0, least(4, greatest(1, octet_length(encode(text)) // 256)) - 1)) AS t(i)
"""
    blobs = attach_text_as_binary(load_fixture(spark, SF, "documents"))
    frames = sample_frames(blobs, every_n_bytes=256, max_frames=4)
    got = frames.select("src", "frame_idx", F.hex("frame").alias("frame_hex"))
    want = duck.sql(sql).fetchall()
    assert want
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_read_binary_files(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"hello world")
    (tmp_path / "b.bin").write_bytes(b"spark")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    got = {r["path"].split("/")[-1]: bytes(r["content"]) for r in df.collect()}
    assert got == {"a.bin": b"hello world", "b.bin": b"spark"}


def test_transform_media_resize_shape(spark):
    """Resize plumbing: size-exact output per blob, batch cardinality
    preserved, blobs transformed executor-side."""
    from jurimetria_etl_spark.operators.multimodal import (
        attach_text_as_binary,
        fake_resize,
        transform_media,
    )

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a much longer document body here")],
        "doc_id long, text string",
    )
    blobs = attach_text_as_binary(docs)
    out = transform_media(
        blobs, lambda b: fake_resize(b, 8, 4)
    ).collect()
    assert len(out) == 2
    assert all(r["n_bytes"] == 32 and len(r["content"]) == 32 for r in out)
    # deterministic: cyclic repetition of the source bytes
    row1 = next(r for r in out if r["src"] == "mem://doc/1")
    assert bytes(row1["content"]) == (b"short" * 7)[:32]


def test_extract_features_feeds_similarity(spark):
    """Feature-extract plumbing: fixed-dim array<float> per blob that the
    E3 similarity operators consume directly — two identical documents are
    each other's nearest neighbors at cosine 1.0."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.multimodal import (
        attach_text_as_binary,
        extract_features,
    )
    from jurimetria_etl_spark.operators.similarity import cosine_topk

    docs = spark.createDataFrame(
        [
            (1, "identical content here"),
            (2, "identical content here"),
            (3, "zzzz qqqq xxxx wwww kkkk"),
        ],
        "doc_id long, text string",
    )
    emb = extract_features(attach_text_as_binary(docs), dim=16).select(
        F.regexp_extract("src", r"(\d+)$", 1).cast("long").alias("vec_id"),
        "embedding",
    )
    assert emb.schema["embedding"].dataType.simpleString() == "array<float>"
    top = cosine_topk(emb, probe_id=1, k=1).first()
    assert top["vec_id"] == 2
    assert top["cos_sim"] == 1.0
