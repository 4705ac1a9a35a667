"""Multimodal binary-column plumbing + streaming/incremental ingest."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.catalog import Catalog
from geotrellis_landsat_emr_demo_spark.core import kernels as K
from geotrellis_landsat_emr_demo_spark.operators import multimodal

from conftest import SCRATCH


@pytest.fixture(scope="module")
def images(spark, tsmall_catalog):
    return tsmall_catalog.read_spark(spark, "images")


def test_decode_stats_matches_numpy(images):
    got = multimodal.decode_stats(images).toPandas()
    specs = {s["image_id"]: s for s in fixtures.scene_specs("t-small")}
    one = got[(got.image_id == "scene-00000") & (got.band == 0)].iloc[0]
    arr = fixtures.scene_array(specs["scene-00000"])[0]
    data = arr[arr != 0]
    assert one.n_data == data.size
    assert abs(one["mean"] - float(data.mean())) < 1e-9
    assert one.p_min == int(data.min()) and one.p_max == int(data.max())
    assert set(got.band) == {0, 1, 2, 3, 4}


def test_thumbnails_carry_caption(images):
    th = multimodal.thumbnails(images, size=64).toPandas()
    caps = {s["image_id"]: s["caption"] for s in fixtures.scene_specs("t-small")}
    assert len(th) == 8
    for r in th.itertuples(index=False):
        assert r.caption == caps[r.image_id]  # byte-equal through the UDF
        arr = K.decode_payload(r.thumb)
        assert arr.shape == (5, 64, 64)


def test_verify_phash(images):
    out = multimodal.verify_phash(images).toPandas()
    assert out.ok.all()


def test_unknown_fmt_raises(spark):
    """webp stays behind the register_decoder seam (jpeg is built in now
    — core.jpeg — so a corrupt jpeg is a PARSE error, not a missing
    decoder)."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame([dict(image_id="x", bytes=b"RIFF....WEBP", fmt="webp")])
    )
    with pytest.raises(Exception, match="NotImplementedError|decoder for fmt"):
        multimodal.decode_stats(df).collect()
    bad = spark.createDataFrame(
        pd.DataFrame([dict(image_id="x", bytes=b"\xff\xd8jpegdata", fmt="jpeg")])
    )
    with pytest.raises(Exception, match="expected marker"):
        multimodal.decode_stats(bad).collect()


def test_frame_sample_fanout(images):
    out = multimodal.frame_sample(images.limit(2), every_k=8).toPandas()
    assert (out.frame % 8 == 0).all()
    assert out.groupby("image_id").size().min() >= 1


def test_image_ahash_and_features_near_dup_pipeline(spark, images):
    """Real multimodal -> similarity pipeline: a planted duplicate image is
    found by (a) identical perceptual ahash, (b) cosine ~1.0 on extracted
    grid features via the LSH near-dup operator; a perturbed near-dup
    lands at small-but-nonzero hamming."""
    rows = images.limit(3).collect()
    base = K.decode_payload(rows[0].bytes)
    perturbed = base.copy()
    perturbed[:, ::7, ::11] = np.minimum(perturbed[:, ::7, ::11] + 900, 65534)
    extra = spark.createDataFrame(
        pd.DataFrame(
            [
                dict(image_id="dup-exact", bytes=rows[0].bytes,
                     fmt=rows[0].fmt, caption=rows[0].caption),
                dict(image_id="dup-near",
                     bytes=K.encode_payload(perturbed, "npy-u16"),
                     fmt="npy-u16", caption=rows[0].caption),
            ]
        )
    )
    docs = images.limit(3).select("image_id", "bytes", "fmt", "caption").unionByName(extra)
    ah = {r.image_id: r.ahash for r in multimodal.image_ahash(docs).collect()}
    assert ah["dup-exact"] == ah[rows[0].image_id]
    ham = bin((ah["dup-near"] ^ ah[rows[0].image_id]) & (2**64 - 1)).count("1")
    assert ham <= 16

    from geotrellis_landsat_emr_demo_spark.operators import similarity

    feats = multimodal.image_features(docs, grid=4)
    dim = 4 * 4 * K.decode_payload(rows[0].bytes).shape[0]
    pairs = similarity.lsh_near_dup_pairs(
        feats, threshold=0.999, dim=dim, id_col="image_id"
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    a, b = sorted([rows[0].image_id, "dup-exact"])
    assert (a, b) in got
    # captions survive the extraction (input_hint invariant)
    caps = {r.image_id: r.caption for r in feats.collect()}
    assert caps["dup-exact"] == rows[0].caption


# ------------------------------------------------------------- streaming --


def test_incremental_ingest_merge_on_read(spark, tsmall_catalog):
    """Two incremental batches (4 + 4 scenes) resolved by latest-gen must
    equal the one-shot batch ingest of all 8 scenes, tile-for-tile and
    byte-for-byte."""
    from geotrellis_landsat_emr_demo_spark.streaming import incremental

    root = os.path.join(SCRATCH, "incr")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    pdf = fixtures.images_pdf("t-small")
    cat.append_pandas(pdf.iloc[:4], "images")
    m1 = incremental.incremental_ingest(spark, cat, "landsat", max_zoom=13)
    assert m1["new_images"] == 4 and m1["gen"] == 1
    # no new images -> no work
    m2 = incremental.incremental_ingest(spark, cat, "landsat", max_zoom=13)
    assert m2["new_images"] == 0
    # append 4 more -> touched keys rebuilt from ALL contributors (gen 2)
    cat.append_pandas(pdf.iloc[4:], "images")
    m3 = incremental.incremental_ingest(spark, cat, "landsat", max_zoom=13)
    assert m3["new_images"] == 4 and m3["gen"] == 2

    resolved = (
        incremental.read_incremental_tiles(spark, cat, "landsat")
        .toPandas()
        .sort_values(["x", "y", "ts"])
        .reset_index(drop=True)
    )
    batch = (
        tsmall_catalog.read_pandas("tiles")
        .query("zoom == 13")
        .sort_values(["x", "y", "ts"])
        .reset_index(drop=True)
    )
    assert len(resolved) == len(batch)
    for i in range(len(batch)):
        assert (
            K.decode_payload(resolved.tile[i]) == K.decode_payload(batch.tile[i])
        ).all(), (batch.x[i], batch.y[i])
        # same leaf path -> the stored bytes match too
        assert resolved.tile[i] == batch.tile[i], (batch.x[i], batch.y[i])
        assert resolved.caption[i] == batch.caption[i]
    # compaction atomically replaces the layer with ONE resolved generation
    pre_snapshot = cat.snapshot_id()
    pre_files = len(cat.files("tiles_incremental"))
    n = incremental.compact_incremental(spark, cat, "landsat")
    assert n == len(batch)
    assert len(cat.files("tiles_incremental")) < pre_files
    post = (
        incremental.read_incremental_tiles(spark, cat, "landsat")
        .toPandas()
        .sort_values(["x", "y", "ts"])
        .reset_index(drop=True)
    )
    assert len(post) == len(batch)
    assert post.gen.nunique() == 1
    for i in range(len(batch)):
        assert (
            K.decode_payload(post.tile[i]) == K.decode_payload(batch.tile[i])
        ).all()
    # pre-compaction generations remain time-travel readable
    assert cat.read_at("tiles_incremental", pre_snapshot).num_rows > len(batch)


def test_stream_ingest_files(spark):
    from geotrellis_landsat_emr_demo_spark.streaming import incremental

    root = os.path.join(SCRATCH, "stream")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    imdir = os.path.join(root, "incoming")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(imdir)
    pdf = fixtures.images_pdf("t-small")
    spark.createDataFrame(pdf.iloc[:4]).write.mode("append").parquet(imdir)
    q = incremental.stream_ingest_files(spark, imdir, cat, "landsat", ckpt)
    q.awaitTermination(120)
    tiles1 = cat.read_pandas("tiles_stream")
    assert len(tiles1) > 0
    # second batch of files -> second run picks up only the new ones
    spark.createDataFrame(pdf.iloc[4:]).write.mode("append").parquet(imdir)
    q2 = incremental.stream_ingest_files(spark, imdir, cat, "landsat", ckpt)
    q2.awaitTermination(120)
    tiles2 = cat.read_pandas("tiles_stream")
    assert len(tiles2) > len(tiles1)
    ts_distinct = tiles2.ts.nunique()
    assert ts_distinct == 2


def test_stateful_scene_counts_across_restarts(spark):
    """applyInPandasWithState: running per-day counts accumulate across
    micro-batches AND across query restarts (state restored from the
    checkpoint); final counts equal the batch groupBy."""
    from geotrellis_landsat_emr_demo_spark.streaming import incremental

    root = os.path.join(SCRATCH, "statestream")
    shutil.rmtree(root, ignore_errors=True)
    imdir, ckpt = os.path.join(root, "in"), os.path.join(root, "ckpt")
    os.makedirs(imdir)
    pdf = fixtures.images_pdf("t-small").drop(columns=["bytes"])
    static_schema = spark.createDataFrame(pdf).schema

    def run_query(qname):
        stream = spark.readStream.schema(static_schema).parquet(imdir)
        out = incremental.stateful_scene_counts(stream)
        rows = []

        def collect(df, _epoch):
            rows.append(df.toPandas())

        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return (
            pd.concat(rows, ignore_index=True)
            if rows
            else pd.DataFrame(columns=["day", "n_scenes", "avg_cloud"])
        )

    spark.createDataFrame(pdf.iloc[:4]).write.mode("append").parquet(imdir)
    got1 = run_query("state1")
    # restart with more files: state must resume (counts continue)
    spark.createDataFrame(pdf.iloc[4:]).write.mode("append").parquet(imdir)
    got2 = run_query("state2")
    # running count is monotone per day -> the max-count row per day is the
    # final state, whichever query emitted it
    both = pd.concat([got1, got2], ignore_index=True)
    final = (
        both.sort_values("n_scenes").groupby("day").last().reset_index()
    )
    expect = (
        pdf.assign(day=pdf.ts.dt.strftime("%Y-%m-%d"))
        .groupby("day")
        .agg(n_scenes=("image_id", "size"), avg_cloud=("cloud_cover", "mean"))
        .reset_index()
        .sort_values("day")
    )
    merged = final.merge(expect, on="day", suffixes=("_got", "_exp"))
    assert len(merged) == len(expect)
    # restarted query only saw new files, so its emitted rows must still
    # reflect TOTAL counts (old state + new rows)
    assert (merged.n_scenes_got == merged.n_scenes_exp).all()
    assert (abs(merged.avg_cloud_got - merged.avg_cloud_exp) < 1e-9).all()


def test_windowed_scene_stats_streaming(spark):
    """Drive the windowed agg through a real Structured Streaming query
    (memory sink) and compare to the batch equivalent."""
    from geotrellis_landsat_emr_demo_spark.streaming import incremental

    root = os.path.join(SCRATCH, "winstream")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    pdf = fixtures.images_pdf("t-small").drop(columns=["bytes"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(os.path.join(root, "in"))
    static = spark.read.parquet(os.path.join(root, "in"))
    stream = spark.readStream.schema(static.schema).parquet(os.path.join(root, "in"))
    agg = incremental.windowed_scene_stats(spark, stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("scene_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from scene_stats").toPandas().sort_values("window_start").reset_index(drop=True)
    expect = (
        incremental.windowed_scene_stats(spark, static)
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert got.equals(expect)


def test_decoder_registry_seam(spark):
    """The pluggable foreign-codec seam: register a toy codec, run the
    full decode_stats / thumbnails / image_features pipelines through it
    end-to-end (closure-captured, so it would reach remote executors),
    then unregister and see the honest NotImplementedError surface."""
    import struct

    def toy_encode(arr):  # (bands, h, w) uint16 -> bytes
        nb, h, w = arr.shape
        return struct.pack("<3H", nb, h, w) + arr.astype("<u2").tobytes()

    def toy_decode(payload):
        nb, h, w = struct.unpack("<3H", payload[:6])
        return np.frombuffer(payload[6:], dtype="<u2").reshape(nb, h, w)

    rng = np.random.default_rng(3)
    arrs = {f"toy-{i}": rng.integers(1, 60000, (2, 16, 16)).astype("u2") for i in range(3)}
    pdf = pd.DataFrame(
        [
            dict(image_id=k, caption=f"cap {k}", fmt="toy-rgb", bytes=toy_encode(a))
            for k, a in arrs.items()
        ]
    )
    df = spark.createDataFrame(pdf)
    multimodal.register_decoder("toy-rgb", toy_decode)
    try:
        stats = multimodal.decode_stats(df).toPandas()
        for k, a in arrs.items():
            b0 = a[0][a[0] != 0]
            row = stats[(stats.image_id == k) & (stats.band == 0)].iloc[0]
            assert row.n_data == b0.size
            assert abs(row["mean"] - float(b0.mean())) < 1e-9
        th = multimodal.thumbnails(df, size=8).toPandas()
        assert len(th) == 3 and all(th.w == 8)
        feats = multimodal.image_features(df, grid=2).toPandas()
        assert all(len(v) == 2 * 2 * 2 for v in feats.embedding)
        # plan built BEFORE unregistration keeps working (snapshot capture)
        planned = multimodal.decode_stats(df)
        multimodal.unregister_decoder("toy-rgb")
        assert len(planned.toPandas()) == 3 * 2
    finally:
        multimodal.unregister_decoder("toy-rgb")
    # without the decoder the stub surfaces honestly
    with pytest.raises(Exception) as ei:
        multimodal.decode_stats(df).toPandas()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_with_registered_video_codec(spark):
    """With a registered video decoder, frame_sample emits REAL decoded
    frames (hash of frame pixels + dimensions) through the same plan
    shape; without one it keeps the labeled byte-slice fallback."""
    import struct

    def enc(frames):  # (n, h, w) uint16 -> bytes
        n, h, w = frames.shape
        return struct.pack("<3H", n, h, w) + frames.astype("<u2").tobytes()

    def dec(payload):
        n, h, w = struct.unpack("<3H", payload[:6])
        return np.frombuffer(payload[6:], dtype="<u2").reshape(n, h, w)

    rng = np.random.default_rng(9)
    frames = rng.integers(0, 60000, (10, 8, 8)).astype("u2")
    df = spark.createDataFrame(
        pd.DataFrame([dict(image_id="v1", fmt="toy-vid", bytes=enc(frames))])
    )
    multimodal.register_decoder("toy-vid", dec)
    try:
        out = multimodal.frame_sample(df, every_k=4).toPandas()
    finally:
        multimodal.unregister_decoder("toy-vid")
    assert sorted(out.frame) == [0, 4, 8]
    assert (out.h == 8).all() and (out.w == 8).all()
    import hashlib as hl

    expect = int.from_bytes(
        hl.sha256(np.ascontiguousarray(frames[4]).tobytes()).digest()[:8],
        "big", signed=True,
    )
    assert out[out.frame == 4].frame_hash.iloc[0] == expect
    # fallback path still works and is labeled by null dims
    out2 = multimodal.frame_sample(df, every_k=4).toPandas()
    assert out2.h.isna().all() and out2.w.isna().all()


def test_stream_dedup_docs(spark):
    """Streaming corpus dedup front door: two micro-batch files with
    planted in-batch and cross-batch near-dups -> survivors in `docs`,
    signatures in `doc_sigs`, quarantined pairs in `doc_rejects`; all
    exactly-once (replaying the stream from the same checkpoint is a
    no-op)."""
    import glob
    import time as _t

    from geotrellis_landsat_emr_demo_spark.streaming import incremental as inc

    root = os.path.join(SCRATCH, "streamdedup")
    shutil.rmtree(root, ignore_errors=True)
    docs_dir = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(docs_dir)
    cat = Catalog(os.path.join(root, "cat"))

    def doc(i, text):
        return dict(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    b1 = pd.DataFrame([
        doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
        doc(2, "alpha beta gamma delta epsilon zeta eta iota"),   # dup of 1
        doc(3, "one two three four five six seven eight nine"),
    ])
    b1.to_parquet(os.path.join(docs_dir, "b1.parquet"))
    q = inc.stream_dedup_docs(spark, docs_dir, cat, ckpt, threshold=0.5)
    q.processAllAvailable(); q.stop()
    kept1 = sorted(cat.read_pandas("docs").doc_id)
    assert kept1 == [1, 3]  # min-id wins the in-batch pair
    # batch 2: cross-batch dup of doc 1 + a fresh doc
    b2 = pd.DataFrame([
        doc(10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        doc(11, "totally fresh content words here again now yes"),
    ])
    b2.to_parquet(os.path.join(docs_dir, "b2.parquet"))
    q = inc.stream_dedup_docs(spark, docs_dir, cat, ckpt, threshold=0.5)
    q.processAllAvailable(); q.stop()
    kept = sorted(cat.read_pandas("docs").doc_id)
    assert kept == [1, 3, 11]
    sigs = cat.read_pandas("doc_sigs")
    assert sorted(sigs.doc_id) == [1, 3, 11]
    rej = cat.read_pandas("doc_rejects")
    assert set(zip(rej.doc_id, rej.matched_doc)) >= {(2, 1), (10, 1)}
    # exactly-once: a fresh query over the same checkpoint replays nothing
    snap = cat.snapshot_id()
    q = inc.stream_dedup_docs(spark, docs_dir, cat, ckpt, threshold=0.5)
    q.processAllAvailable(); q.stop()
    assert sorted(cat.read_pandas("docs").doc_id) == [1, 3, 11]
