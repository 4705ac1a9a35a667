"""Ingest correctness vs the pure-numpy oracle: tile assignments, merged
pixels, pyramid counts, caption equality, salting equivalence, resume."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.catalog import Catalog
from geotrellis_landsat_emr_demo_spark.core import kernels as K, tiling
from geotrellis_landsat_emr_demo_spark.operators import ingest

from conftest import SCRATCH


def test_compact_tiles_rewrite(spark):
    """Small-file compaction: fewer files, identical rows, partition-meta
    pruning intact, old snapshot still time-travel readable."""
    root = os.path.join(SCRATCH, "compact")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(spark, cat, "landsat", max_zoom=13, min_zoom=12)
    before_files = cat.files("tiles")
    before_snapshot = cat.snapshot_id()
    def key_set():
        pdf = cat.read_pandas("tiles", columns=["layer", "zoom", "x", "y", "ts"])
        return {
            (r.layer, int(r.zoom), int(r.x), int(r.y), int(pd.Timestamp(r.ts).value))
            for r in pdf.itertuples(index=False)
        }

    before = key_set()
    report = ingest.compact_tiles(spark, cat, target_mb=512)
    assert set(report) == {"landsat:z13", "landsat:z12"}
    after_files = cat.files("tiles")
    assert len(after_files) < len(before_files)
    after = key_set()
    assert before == after
    # manifest pruning by zoom still works on the rewritten files
    z13 = cat.files("tiles", zoom=13)
    assert z13 and all(f in after_files for f in z13)
    import pyarrow.parquet as pq

    assert all(
        set(pq.read_table(f, columns=["zoom"])["zoom"].to_pylist()) == {13}
        for f in z13
    )
    # the pre-compaction snapshot still resolves to the OLD file set
    old = cat.read_at("tiles", before_snapshot)
    assert old.num_rows == len(before)


def test_sfc_clustered_layout(spark, tsmall_catalog):
    """Z-order layout parity: within every tiles file, rows are sorted by
    cell_key (tight row-group min/max = SFC range pruning) and every row
    group holds at most four tiles (the serving read's payload-IO unit),
    for ingested and compacted files alike; after compaction, files within
    a (layer, zoom) group cover DISJOINT cell_key ranges (global
    clustering)."""
    import pyarrow.parquet as pq

    def check_file(f):
        keys = pq.read_table(f, columns=["cell_key"])["cell_key"].to_pylist()
        assert keys == sorted(keys), f
        md = pq.ParquetFile(f).metadata
        rows = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        assert max(rows) <= 4, (f, rows)
        return keys

    for f in tsmall_catalog.files("tiles"):
        check_file(f)

    root = os.path.join(SCRATCH, "cluster")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(spark, cat, "landsat", max_zoom=13, min_zoom=13)
    # tiny target forces multiple output files per group
    ingest.compact_tiles(spark, cat, target_mb=1)
    ranges = []
    for f in cat.files("tiles", zoom=13):
        keys = check_file(f)
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    assert len(ranges) >= 2, "compaction should have produced several files"
    for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
        assert a1 <= b0, "compacted files must cover disjoint cell_key ranges"


def oracle_leaf_keys(tier="t-small", zoom=13):
    """Expected (x, y, ts_millis) leaf assignments straight from footprints."""
    keys = set()
    for spec in fixtures.scene_specs(tier):
        c0, r0, c1, r1 = tiling.extent_to_tile_range(
            spec["xmin"], spec["ymin"], spec["xmax"], spec["ymax"], zoom
        )
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                keys.add((c, r, spec["ts_millis"]))
    return keys


def oracle_pyramid_counts(tier="t-small", max_zoom=13, min_zoom=1):
    counts = {}
    level = oracle_leaf_keys(tier, max_zoom)
    counts[max_zoom] = len(level)
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        level = {(c // 2, r // 2, t) for (c, r, t) in level}
        counts[z] = len(level)
    return counts


def oracle_tile(tier, x, y, ts_millis, zoom=13):
    """Recompute a merged leaf tile locally: regrid every covering scene and
    merge first-data-wins in image_id order (no Spark)."""
    frags, ids = [], []
    dst = tiling.tile_extent(x, y, zoom)
    for spec in fixtures.scene_specs(tier):
        if spec["ts_millis"] != ts_millis:
            continue
        c0, r0, c1, r1 = tiling.extent_to_tile_range(
            spec["xmin"], spec["ymin"], spec["xmax"], spec["ymax"], zoom
        )
        if not (c0 <= x <= c1 and r0 <= y <= r1):
            continue
        ext = (spec["xmin"], spec["ymin"], spec["xmax"], spec["ymax"])
        # mirror the engine path exactly: encode->decode the scene payload
        arr = K.decode_payload(
            K.encode_payload(fixtures.scene_array(spec), spec["fmt"])
        )
        frags.append(K.regrid_to_extent(arr, ext, dst, (256, 256)))
        ids.append(spec["image_id"])
    assert frags, "oracle found no covering scene"
    return K.merge_fragments(frags, ids), sorted(ids)[0]


def _millis(ts) -> int:
    return int(pd.Timestamp(ts).value // 1_000_000)


def test_leaf_assignments_exact(tsmall_catalog):
    pdf = tsmall_catalog.read_pandas("tiles", columns=["zoom", "x", "y", "ts"])
    got = {
        (int(r.x), int(r.y), _millis(r.ts))
        for r in pdf[pdf.zoom == 13].itertuples(index=False)
    }
    assert got == oracle_leaf_keys()


def test_pyramid_counts_exact(tsmall_catalog):
    pdf = tsmall_catalog.read_pandas("tiles", columns=["zoom"])
    got = pdf.groupby("zoom").size().to_dict()
    assert got == oracle_pyramid_counts()


def test_hot_cell_merge_pixels_and_caption(tsmall_catalog):
    """The hot cell (4 overlapping scenes per timestamp) must merge to the
    oracle's exact pixels, and carry the winner's byte-equal caption."""
    pdf = tsmall_catalog.read_pandas("tiles")
    leaf = pdf[pdf.zoom == 13]
    hot = leaf[leaf.n_frags == leaf.n_frags.max()].iloc[0]
    assert hot.n_frags == 4
    expect, winner_id = oracle_tile(
        "t-small", int(hot.x), int(hot.y), _millis(hot.ts)
    )
    got = K.decode_payload(hot.tile)
    assert (got == expect).all()
    assert hot.image_id == winner_id
    expect_caption = next(
        s["caption"] for s in fixtures.scene_specs("t-small") if s["image_id"] == winner_id
    )
    assert hot.caption == expect_caption  # byte-equal through every shuffle


def test_every_leaf_tile_matches_oracle(tsmall_catalog):
    pdf = tsmall_catalog.read_pandas("tiles")
    leaf = pdf[pdf.zoom == 13]
    for row in leaf.itertuples(index=False):
        expect, _ = oracle_tile("t-small", int(row.x), int(row.y), _millis(row.ts))
        assert (K.decode_payload(row.tile) == expect).all(), (row.x, row.y)


def test_decoded_pixel_invariant_lossless(tsmall_catalog):
    """decode(bytes) == oracle pixels exactly for the lossless fmt."""
    pdf = tsmall_catalog.read_pandas("images", columns=["image_id", "bytes"])
    specs = {s["image_id"]: s for s in fixtures.scene_specs("t-small")}
    for row in pdf.itertuples(index=False):
        assert (
            K.decode_payload(row.bytes) == fixtures.scene_array(specs[row.image_id])
        ).all()


def test_lossy_fmt_psnr_gate():
    """jq75 variant: decoded pixels PSNR >= 40 dB vs oracle, NoData exact."""
    pdf = fixtures.images_pdf("t-small", fmt_override="jq75")
    specs = {s["image_id"]: s for s in fixtures.scene_specs("t-small")}
    for row in pdf.head(2).itertuples(index=False):
        truth = fixtures.scene_array(specs[row.image_id]).astype("f8")
        dec = K.decode_payload(row.bytes).astype("f8")
        assert ((dec == 0) == (truth == 0)).all()
        mse = ((dec - truth) ** 2).mean()
        assert 10 * np.log10(65535.0**2 / mse) >= 40


def test_ingest_lossy_store_fmt_psnr_gate(spark, tsmall_catalog):
    """End-to-end ingest with a LOSSY store format (jq75): every leaf tile
    decodes within PSNR >= 40 dB of the lossless pipeline's tile, with the
    NoData mask exact (the BASELINE lossy-parity clause, through the whole
    chunk -> merge -> encode path, not just the codec)."""
    root = os.path.join(SCRATCH, "lossy")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(
        spark, cat, "landsat", max_zoom=13, min_zoom=13, store_fmt="jq75"
    )
    lossless = {
        (int(r.x), int(r.y), _millis(r.ts)): r.tile
        for r in tsmall_catalog.read_pandas("tiles")
        .query("zoom == 13")
        .itertuples(index=False)
    }
    lossy = cat.read_pandas("tiles").query("zoom == 13")
    assert len(lossy) == len(lossless)
    for r in lossy.itertuples(index=False):
        truth = K.decode_payload(lossless[(int(r.x), int(r.y), _millis(r.ts))])
        dec = K.decode_payload(r.tile)
        assert K.payload_fmt(r.tile) == "jq75"
        assert ((dec == 0) == (truth == 0)).all()  # NoData exact
        data = truth != 0
        if not data.any():
            continue
        mse = ((dec[data].astype("f8") - truth[data].astype("f8")) ** 2).mean()
        assert 10 * np.log10(65535.0**2 / max(mse, 1e-12)) >= 40, (r.x, r.y)


def test_salted_ingest_equals_unsalted(spark, tsmall_catalog):
    root = os.path.join(SCRATCH, "salted")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(
        spark, cat, "landsat", max_zoom=13, min_zoom=12, salt_buckets=3
    )
    a = (
        tsmall_catalog.read_pandas("tiles")
        .query("zoom >= 12")
        .sort_values(["zoom", "x", "y", "ts"])
        .reset_index(drop=True)
    )
    b = (
        cat.read_pandas("tiles")
        .sort_values(["zoom", "x", "y", "ts"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    for i in range(len(a)):
        assert (
            K.decode_payload(a.tile[i]) == K.decode_payload(b.tile[i])
        ).all(), i
        assert a.caption[i] == b.caption[i]
        assert int(a.n_frags[i]) == int(b.n_frags[i])


def test_resume_after_crash(spark, tsmall_catalog):
    """Kill mid-ingest (after z13 commit), rerun: completed stages are
    skipped, final result identical, no duplicate rows."""
    root = os.path.join(SCRATCH, "resume")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest.ingest_images(
            spark, cat, "landsat", max_zoom=13, min_zoom=11,
            fail_after_stage="ingest:landsat:z13",
        )
    assert cat.is_committed("ingest:landsat:z13")
    m = ingest.ingest_images(spark, cat, "landsat", max_zoom=13, min_zoom=11)
    assert m["ingest:landsat:z13"].get("skipped") is True
    pdf = cat.read_pandas("tiles")
    # no duplicates
    assert not pdf.duplicated(["layer", "zoom", "x", "y", "ts"]).any()
    ref = tsmall_catalog.read_pandas("tiles").query("zoom >= 11")
    assert pdf.groupby("zoom").size().to_dict() == ref.groupby("zoom").size().to_dict()
    # lineage recorded for each stage
    lin = cat.read_pandas("lineage")
    assert set(lin["zoom"]) == {13, 12, 11}
    assert (lin["rows"] > 0).all()


def test_pyramid_parent_pixels(tsmall_catalog):
    """A zoom-12 parent equals the oracle assembly of its zoom-13 children."""
    pdf = tsmall_catalog.read_pandas("tiles")
    leaf = pdf[pdf.zoom == 13]
    parent = pdf[pdf.zoom == 12].iloc[0]
    ts = parent.ts
    kids = leaf[
        (leaf.x // 2 == parent.x) & (leaf.y // 2 == parent.y) & (leaf.ts == ts)
    ]
    children = {
        (int(r.y) % 2) * 2 + (int(r.x) % 2): K.decode_payload(r.tile)
        for r in kids.itertuples(index=False)
    }
    expect = K.assemble_parent(children)
    assert (K.decode_payload(parent.tile) == expect).all()


def test_layer_attrs(tsmall_catalog):
    import json

    attrs = tsmall_catalog.read_pandas("layer_attrs")
    times = json.loads(attrs[attrs.name == "times"].iloc[0].json)
    expect_times = sorted({s["ts_millis"] for s in fixtures.scene_specs("t-small")})
    assert times == expect_times
    ext = json.loads(attrs[attrs.name == "extent"].iloc[0].json)
    specs = fixtures.scene_specs("t-small")
    assert ext["xmin"] == min(s["xmin"] for s in specs)
    assert ext["ymax"] == max(s["ymax"] for s in specs)


def test_export_tiles_static_tree(spark, tsmall_catalog, svc):
    """Static z/x/y export: every leaf tile lands as a PNG, bytes are
    pixel-identical to the live server's render_tile for the same keys,
    and the metrics row matches the file tree."""
    import glob
    import os
    import shutil

    from geotrellis_landsat_emr_demo_spark.operators import export

    out = os.path.join(os.path.dirname(tsmall_catalog.root), "export_tree")
    shutil.rmtree(out, ignore_errors=True)
    m = export.export_tiles(
        spark, tsmall_catalog, "landsat", 13, out, operation="ndvi"
    )
    files = glob.glob(os.path.join(out, "landsat", "ndvi", "*", "13", "*", "*.png"))
    keys = tsmall_catalog.read_pandas("tiles", columns=["zoom", "x", "y", "ts"])
    leaf = keys[keys.zoom == 13]
    assert m["tiles"] == len(leaf) == len(files)
    assert m["bytes"] == sum(os.path.getsize(f) for f in files)
    # pixel parity with the serving path on a few keys
    for row in leaf.head(3).itertuples(index=False):
        tkey = row.ts.strftime("%Y%m%dT%H%M%SZ")
        tiso = row.ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        path = os.path.join(
            out, "landsat", "ndvi", tkey, "13", str(row.x), f"{row.y}.png"
        )
        with open(path, "rb") as f:
            assert f.read() == svc.render_tile(
                "landsat", 13, int(row.x), int(row.y), tiso, "ndvi"
            )


def test_auto_salt_buckets_heuristic(spark):
    """salt_buckets='auto': the combiner caps per-key fan-in at one
    partial per task; once the POST-COMBINER fan-in min(hot, par)
    reaches _SALT_TARGET, salting splits it across ~sqrt(eff) buckets
    (critical path eff/B + B; measured flat within 2x of the optimum)."""
    pdf = fixtures.images_pdf("t-small")
    df = spark.createDataFrame(pdf)
    # uniform coverage, par 32: hot cells have only a handful of
    # contributors -> eff < _SALT_TARGET -> combiner only
    assert ingest._auto_salt_buckets(df, 13, 32) == 1
    import pandas as pd

    hot = pdf.iloc[[0] * 300].copy().reset_index(drop=True)
    hot["image_id"] = [f"h{i}" for i in range(len(hot))]
    big = spark.createDataFrame(pd.concat([pdf, hot], ignore_index=True))
    # a 4000-wide cluster with a ~300-contributor hot cell: eff = 301,
    # buckets = round(sqrt(301)) = 17
    assert ingest._auto_salt_buckets(big, 13, 4000) == round(301**0.5)
    # same hot corpus at par=32: combiner cap -> eff=32 >= target ->
    # sqrt sizing (the interleaved A/B in BENCH/BASELINE.md round 5)
    assert ingest._auto_salt_buckets(big, 13, 32) == round(32**0.5)
    # end-to-end: salt_buckets="auto" resolves and ingests
    root = os.path.join(SCRATCH, "autosalt")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    m = ingest.ingest_images(
        spark, cat, "landsat", max_zoom=13, min_zoom=13, salt_buckets="auto"
    )
    assert m["ingest:landsat:z13"]["rows"] > 0


def _set_partitions(items, k):
    """Every split of ``items`` into ``k`` non-empty blocks."""
    if k == 1:
        yield [list(items)]
        return
    if len(items) == k:
        yield [[i] for i in items]
        return
    head, rest = items[0], items[1:]
    for part in _set_partitions(rest, k - 1):
        yield [[head]] + part
    for part in _set_partitions(rest, k):
        for j in range(len(part)):
            yield part[:j] + [[head] + part[j]] + part[j + 1:]


def test_combine_steps_any_grouping_equal_merge_fragments():
    """The leaf path's combine steps, called directly on pandas: a hot
    cell's fragments split into every 2-way and 3-way grouping of chunk
    tasks (a one-fragment task emits a provenance-less partial, a larger
    one a ranked partial cropped to its contributors' rects), then the
    salt step (first two partials in one bucket, the rest alone) and the
    final step give bitwise the stored tile of kernels.merge_fragments."""
    scenes = fixtures.images_pdf("t-small")[ingest.SOURCE_COLS]
    chunk = ingest._chunk_fn(13)

    def partials(rows):
        return next(chunk(iter([scenes.iloc[rows]])))

    # per-key singleton partials; the hot cell = a 4-contributor key with
    # the most cropped fragments
    frags = {}
    for i in range(len(scenes)):
        for r in partials([i]).itertuples(index=False):
            frags.setdefault((r.x, r.y, r.ts), []).append((i, r))

    def cropped(r):
        return K.payload_dims(r.frag)[1:] != (256, 256)

    key = max(
        frags, key=lambda k: (len(frags[k]), sum(cropped(r) for _, r in frags[k]))
    )
    rows = [i for i, _ in frags[key]]
    assert len(rows) == 4
    expect = K.encode_payload(
        K.merge_fragments(
            [K.pad_to_tile(K.decode_payload(r.frag), r.ox, r.oy) for _, r in frags[key]],
            [r.image_id for _, r in frags[key]],
        ),
        "npy-u16",
    )
    final = ingest._final_fn("landsat", 13, "npy-u16")
    n_cropped_ranked = 0
    for k in (2, 3):
        for grouping in _set_partitions(rows, k):
            parts = pd.concat(
                [
                    p[(p.x == key[0]) & (p.y == key[1]) & (p.ts == key[2])]
                    for p in (partials(block) for block in grouping)
                ],
                ignore_index=True,
            )
            assert len(parts) == k
            n_cropped_ranked += int(
                sum(w is not None and cropped(r)
                    for w, r in zip(parts.winner, parts.itertuples(index=False)))
            )
            salted = pd.concat(
                [ingest._salt_fn(parts.iloc[:2].assign(salt=0))]
                + [
                    ingest._salt_fn(parts.iloc[[j]].assign(salt=j))
                    for j in range(2, k)
                ],
                ignore_index=True,
            )
            for tiles in (final(salted), final(parts)):
                assert len(tiles) == 1
                assert tiles.tile[0] == expect, grouping
                assert tiles.image_id[0] == min(scenes.image_id.iloc[rows])
                assert int(tiles.n_frags[0]) == 4
    assert n_cropped_ranked > 0, "no ranked partial with a cropped rect"
