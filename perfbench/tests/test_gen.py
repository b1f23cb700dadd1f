import numpy as np
import pyarrow.parquet as pq

import gen


def test_curate_rows_depend_only_on_seed_and_index():
    a = gen._curate_part(0, 64, seed=3)
    assert a.equals(gen._curate_part(0, 64, seed=3))
    # sharded generation is row-identical to a single pass
    b = gen._curate_part(32, 32, seed=3)
    assert a.slice(32).equals(b)
    assert not a.equals(gen._curate_part(0, 64, seed=4))


def test_curate_plan_matches_rows():
    n, seed = 400, 5
    t = gen._curate_part(0, n, seed)
    plan = gen.curate_plan(n, seed)
    kind, base = gen._kind(np.arange(n, dtype=np.uint64), seed)
    blobs = t["bytes"].to_pylist()
    copies = np.flatnonzero((kind == 2) & (kind[base] == 0))
    assert len(copies) > 0
    for i in copies:  # planted exact copies are byte-identical to their base
        assert blobs[i] == blobs[base[i]]
    assert len(plan["corrupt"]) == int((kind == 1).sum()) > 0
    assert plan["near_dup_plants"] > 0


def test_points_and_queries_deterministic(tmp_path):
    assert gen.points(100, 50, 9).equals(gen.points(100, 50, 9))
    assert not gen.points(100, 50, 9).equals(gen.points(100, 50, 10))
    assert gen.knn_queries(2, 4, 9).equals(gen.knn_queries(2, 4, 9))
    gen.geotile_images(tmp_path / "a", 200, 9, procs=1)
    gen.geotile_images(tmp_path / "b", 200, 9, procs=1)
    assert pq.read_table(tmp_path / "a").equals(pq.read_table(tmp_path / "b"))


def test_image_properties(tmp_path):
    gen.curate_images(tmp_path / "c", 300, 2, procs=1)
    props = gen.image_properties(tmp_path / "c", corrupt_rows=3, near_dup_plants=4)
    assert props["rows"] == 300
    assert props["distinct_blob_ratio"] >= 0.9
    assert props["exact_dup_share"] == round(1 - props["distinct_blob_ratio"], 4)
    assert 0.3 < props["hot_cell_share"] < 0.5
    assert props["corrupt_share"] == 0.01 and props["near_dup_plants"] == 4
