"""Perceptual fingerprints (operators/fingerprints.py).

Independence of the oracles:
- the DCT basis table is re-derived with numpy's libm cosines (float64
  ``np.cos`` + half-even rounding) against the module's software
  ``decimal`` Taylor/Chebyshev derivation — two disjoint arithmetic
  stacks agreeing entry-for-entry;
- dhash/phash twins are pure-Python nested-loop implementations (own
  resize index math, own median via sorted(), own bit pack) sharing no
  code with the operator kernel;
- invariance properties (tone-shift exactness for dhash, gradient
  locality vs aHash) are asserted on crafted deterministic fixtures.
"""

import numpy as np
import pandas as pd
import pytest

from jimmy_spark.codecs import decode_image, encode_image
from jimmy_spark.operators import fingerprints as fp

SEED = 23


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _np_cos_table() -> np.ndarray:
    u, x = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    vals = np.cos((2 * x + 1) * u * np.pi / 64) * fp.DCT_Q
    return np.rint(vals).astype(np.int64)  # rint = half-even, like decimal


def _twin_luma(arr: np.ndarray) -> list[list[int]]:
    h, w = arr.shape[:2]
    return [
        [
            (299 * int(arr[y, x, 0]) + 587 * int(arr[y, x, 1])
             + 114 * int(arr[y, x, 2])) // 1000
            for x in range(w)
        ]
        for y in range(h)
    ]


def _twin_resize(luma: list[list[int]], w: int, h: int) -> list[list[int]]:
    sh, sw = len(luma), len(luma[0])
    return [
        [luma[(y * sh) // h][(x * sw) // w] for x in range(w)]
        for y in range(h)
    ]


def _twin_pack(bits: list[int]) -> int:
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    return val if val < (1 << 63) else val - (1 << 64)


def _twin_dhash(arr: np.ndarray) -> int:
    t = _twin_resize(_twin_luma(arr), 9, 8)
    return _twin_pack(
        [1 if t[r][c + 1] > t[r][c] else 0 for r in range(8) for c in range(8)]
    )


def _twin_phash(arr: np.ndarray, table: np.ndarray) -> int:
    t = _twin_resize(_twin_luma(arr), 32, 32)
    c = [[int(table[i, j]) for j in range(32)] for i in range(32)]
    # first pass: rows of C against columns of t (exact Python ints)
    t1 = [
        [sum(c[u][x] * t[x][y] for x in range(32)) for y in range(32)]
        for u in range(32)
    ]
    # second pass: T1 @ C^T
    t2 = [
        [sum(t1[u][y] * c[v][y] for y in range(32)) for v in range(32)]
        for u in range(32)
    ]
    low = [t2[u][v] for u in range(8) for v in range(8)]
    s = sorted(low)
    med2 = s[31] + s[32]
    return _twin_pack([1 if 2 * v > med2 else 0 for v in low])


def _rand_images(n: int, rng) -> list[tuple[str, np.ndarray]]:
    out = []
    for i in range(n):
        h = int(rng.integers(8, 70))
        w = int(rng.integers(8, 70))
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out.append((f"img{i:03d}", arr))
    return out


def test_cos_table_matches_libm_derivation():
    assert np.array_equal(fp._COS, _np_cos_table())
    # DCT-II basis sanity: DC row is the constant Q, rows are symmetric in
    # the folded argument, and every non-DC row sums to ~0 (exactly 0 in
    # the reals; rounding leaves at most a few ulps of the Q scale)
    assert (fp._COS[0] == fp.DCT_Q).all()
    # the folded-argument symmetry makes rounding errors cancel exactly:
    # every non-DC row sums to 0, so a uniform luma shift moves ONLY the
    # DC coefficient of the fixed-point DCT (leaned on below)
    assert (fp._COS[1:].sum(axis=1) == 0).all()


def test_kernels_match_pure_python_twins():
    rng = np.random.default_rng(SEED)
    table = _np_cos_table()
    for _, arr in _rand_images(24, rng):
        luma = fp._int_luma(arr)
        assert fp._dhash(luma) == _twin_dhash(arr)
        assert fp._phash(luma) == _twin_phash(arr, table)


def test_dhash_exact_under_brightness_shift_phash_stable():
    rng = np.random.default_rng(SEED + 1)
    arr = rng.integers(30, 180, size=(40, 52, 3), dtype=np.uint8)
    shifted = (arr.astype(np.int64) + 40).astype(np.uint8)  # no clipping
    la, ls = fp._int_luma(arr), fp._int_luma(shifted)
    # integer luma shifts exactly: (num + 1000c) div 1000 = luma + c
    assert np.array_equal(ls, la + 40)
    assert fp._dhash(la) == fp._dhash(ls)
    # non-DC basis rows sum to EXACTLY 0 (table test above), so a uniform
    # shift moves only the DC coefficient; on this fixture the median
    # order statistics are untouched and the hash is bit-identical
    assert _ham(fp._phash(la), fp._phash(ls)) == 0


def test_dhash_more_gradient_robust_than_ahash():
    from jimmy_spark.operators.multimodal import _ahash

    rng = np.random.default_rng(SEED + 2)
    base = rng.integers(60, 196, size=(48, 48, 3), dtype=np.uint8)
    # smooth vertical lighting gradient, -40 at top to +40 at bottom
    grad = np.linspace(-40, 40, 48).round().astype(np.int64)[:, None, None]
    lit = np.clip(base.astype(np.int64) + grad, 0, 255).astype(np.uint8)

    def ah(a):
        return _ahash(a.astype(np.float64) @ np.array([0.299, 0.587, 0.114]))

    d_gap = _ham(fp._dhash(fp._int_luma(base)), fp._dhash(fp._int_luma(lit)))
    a_gap = _ham(int(ah(base)), int(ah(lit)))
    # the gradient drags the global mean threshold across many cells but
    # reorders few adjacent pairs (deterministic fixture; measured gap)
    assert d_gap < a_gap
    assert d_gap <= 6


@pytest.fixture(scope="module")
def prints_df(spark):
    rng = np.random.default_rng(SEED)
    rows = [
        (img_id, encode_image(arr, "png"), "png")
        for img_id, arr in _rand_images(24, rng)
    ]
    rows.append(("imgbad", b"garbage-not-an-image", "png"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    return df, rows


def test_spark_lane_matches_twins_and_isolates_errors(spark, prints_df):
    df, rows = prints_df
    out = {
        r["image_id"]: r
        for r in fp.image_fingerprints(df.repartition(5)).collect()
    }
    assert len(out) == len(rows)
    bad = out.pop("imgbad")
    assert not bad["ok"] and bad["error"]
    table = _np_cos_table()
    rng = np.random.default_rng(SEED)
    for img_id, arr in _rand_images(24, rng):
        r = out[img_id]
        assert r["ok"]
        assert int(r["dhash"]) == _twin_dhash(arr)
        assert int(r["phash_dct"]) == _twin_phash(arr, table)


def test_curation_features_consistent_with_audited_kernels(spark, prints_df):
    """curation_features_full (the curate_job feature stage) is
    bit-identical to image_features on the shared columns and to
    image_fingerprints on the hash columns — one decode, same values —
    and its JVM georef and md5 equal the NumPy georef and hashlib md5."""
    import hashlib

    from pyspark.sql import functions as F

    from jimmy_spark.functions.georef import latlon_e7_np
    from jimmy_spark.operators import multimodal

    df, rows = prints_df
    staged = df.withColumn("phash", F.xxhash64("image_id"))
    cur = {
        r["image_id"]: r for r in fp.curation_features_full(staged).collect()
    }
    phash = {
        r["image_id"]: r["phash"]
        for r in staged.select("image_id", "phash").collect()
    }
    blobs = {img_id: blob for img_id, blob, _ in rows}
    for img_id, r in cur.items():
        lat, lon = latlon_e7_np(np.array([phash[img_id]], dtype=np.int64))
        assert (r["lat_e7"], r["lon_e7"]) == (lat[0], lon[0])
        assert r["content_md5"] == hashlib.md5(blobs[img_id]).hexdigest()
    feats = {r["image_id"]: r for r in multimodal.image_features(df).collect()}
    prints = {r["image_id"]: r for r in fp.image_fingerprints(df).collect()}
    assert set(cur) == set(feats) == set(prints)
    for img_id, r in cur.items():
        assert r["ok"] == feats[img_id]["ok"] == prints[img_id]["ok"]
        if r["ok"]:
            assert r["ahash"] == feats[img_id]["ahash"]
            assert r["sharp_e3"] == feats[img_id]["sharp_e3"]
            assert r["clip_e3"] == feats[img_id]["clip_e3"]
            assert r["dhash"] == prints[img_id]["dhash"]
            assert r["phash_dct"] == prints[img_id]["phash_dct"]


def test_scene_keep_best_over_dhash_matches_duckdb_twin(spark):
    """The curate_job --scene-hash wiring end-to-end in process: scene
    keep-best gated on the COMPUTED dHash equals the independent DuckDB
    twin run with the same hash column."""
    import duckdb

    from pyspark.sql import functions as F

    from jimmy_spark.operators import imagedup
    from jimmy_spark.operators import multimodal as mm

    rng = np.random.default_rng(SEED + 4)
    rows = []
    nid = 0
    for g in range(8):  # 8 scene groups of 3 lightly retouched shots
        base = rng.integers(0, 256, size=(40, 40, 3), dtype=np.uint8)
        glat = int(rng.integers(-800_000_000, 800_000_000))
        glon = int(rng.integers(-1_700_000_000, 1_700_000_000))
        for _ in range(3):
            shot = base.copy()
            ys = rng.integers(0, 40, size=6)
            xs = rng.integers(0, 40, size=6)
            shot[ys, xs] = rng.integers(0, 256, size=(6, 3), dtype=np.uint8)
            rows.append(
                (f"i{nid:03d}", encode_image(shot, "png"), "png",
                 glat + int(rng.integers(-300, 300)),
                 glon + int(rng.integers(-300, 300)))
            )
            nid += 1
    for _ in range(10):  # far-away singles
        arr = rng.integers(0, 256, size=(40, 40, 3), dtype=np.uint8)
        rows.append(
            (f"i{nid:03d}", encode_image(arr, "png"), "png",
             int(rng.integers(-800_000_000, 800_000_000)),
             int(rng.integers(-1_700_000_000, 1_700_000_000)))
        )
        nid += 1
    imgs = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "image_id string, bytes binary, fmt string",
    )
    coords = spark.createDataFrame(
        [(r[0], r[3], r[4]) for r in rows],
        "image_id string, lat_e7 long, lon_e7 long",
    )
    pts = (
        mm.blob_features(imgs, fp.CURATION_COLS, keep=("image_id",))
        .filter("ok")
        .join(coords, "image_id")
    )
    D, T = 1000, 6
    num_id = "CAST(substr(image_id, 2, 3) AS BIGINT)"
    got = {
        (r["image_id"], int(r["cluster_id"]), bool(r["keep"]))
        for r in imagedup.scene_dedup_keep_best(
            pts, d=D, threshold=T, hash_col="dhash", num_id=F.expr(num_id)
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "pts",
        pts.select(
            "image_id", "lat_e7", "lon_e7", "dhash", "sharp_e3", "clip_e3"
        ).toPandas(),
    )
    exp = {
        (r[0], int(r[1]), bool(r[2]))
        for r in con.sql(
            imagedup.duckdb_keep_best_sql(
                "SELECT * FROM pts", d=D, threshold=T,
                hash_col="dhash", num_id_sql=num_id,
            )
        ).fetchall()
    }
    assert got == exp
    # the hash gate is live: some group's retouch exceeds the Hamming
    # threshold only rarely, so real multi-member clusters exist
    n_clusters = len({c for _, c, _ in got})
    assert n_clusters < len(got)


def test_near_dup_lane_finds_planted_pairs(spark):
    rng = np.random.default_rng(SEED + 3)
    rows = []
    want = set()
    for i in range(30):
        arr = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        rows.append((f"b{i:03d}", encode_image(arr, "png"), "png"))
        if i % 5 == 0:  # plant a lightly retouched copy
            dup = arr.copy()
            ys = rng.integers(0, 32, size=8)
            xs = rng.integers(0, 32, size=8)
            dup[ys, xs] = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
            rows.append((f"d{i:03d}", encode_image(dup, "png"), "png"))
            want.add((f"b{i:03d}", f"d{i:03d}"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {
        (r["a"], r["b"])
        for r in fp.fingerprint_near_dup(df, kind="phash_dct", threshold=6)
        .collect()
    }
    assert want <= got
    # unrelated 64-bit fingerprints sit ~32 bits apart; nothing spurious
    assert got == want


def _kernel_corpus() -> pd.DataFrame:
    """Mixed shapes and formats, truncated (corrupt) rows and exact byte
    duplicates (cache hits)."""
    rng = np.random.default_rng(SEED + 9)
    rows = []
    for i in range(120):
        h, w = [(16, 16), (24, 32), (48, 64), (5, 7)][i % 4]
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        fmt = ["png", "bmp", "jpeg"][i % 3]
        data = encode_image(arr, fmt)
        if i % 10 == 7:
            data = data[: max(8, len(data) // 2)]  # corrupt: truncated
        rows.append((f"img{i:03d}", data, fmt))
        if i % 6 == 1:  # plant exact byte duplicates -> cache hits
            rows.append((f"dup{i:03d}", data, fmt))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])


def test_batched_kernels_bit_identical_to_per_row_and_cache_semantics():
    """r6 optimization guards: the blob-kernel registry
    (multimodal.blob_rows — shape-grouped stacks, incl. the float64-BLAS
    DCT) must reproduce the per-row reference kernels bit-for-bit on every
    registry column and corpus shape, corrupt rows included (md5 is set on
    them too), and the per-task content-addressed cache must be
    value-transparent (same outputs with and without, error rows replayed
    from cache like any other)."""
    from jimmy_spark.operators import decode as dec
    from jimmy_spark.operators import multimodal as mm

    pdf = _kernel_corpus()
    pairs = list(zip(pdf["bytes"], pdf["fmt"]))

    def decode_ref(b, f):
        dh, dw, crc, mean, err = dec._decode_row(b, f)
        return (err is None, err, dh, dw, crc, mean)

    refs = {
        mm.FEATURE_COLS: [mm._features_row(b, f) for b, f in pairs],
        fp.FINGERPRINT_COLS: [fp._fingerprints_row(b, f) for b, f in pairs],
        fp.CURATION_COLS: [fp._curation_row(b, f) for b, f in pairs],
        ("dec_h", "dec_w", "px_checksum", "px_mean_milli"): [
            decode_ref(b, f) for b, f in pairs
        ],
    }
    # every registry column has a per-row reference here
    assert {c for cols in refs for c in cols} == set(mm._KERNEL_OF)
    for cols, ref in refs.items():
        for cache in (None, {}):
            got = mm.blob_columns(pdf, cols, cache)
            for i, r in enumerate(ref):
                row = tuple(got[c][i] for c in ("ok", "error", *cols))
                assert row == tuple(r), f"{cols} row {i}"
            assert mm.blob_rows(pdf["bytes"], pdf["fmt"], cols, cache) == ref

    # cache fills with one entry per distinct (fmt, blob) and is reused:
    # a poisoned cache entry must be read back verbatim (proves hits
    # short-circuit the kernel)
    cache = {}
    mm.blob_columns(pdf, mm.FEATURE_COLS, cache)
    n_distinct = len({(f, bytes(b)) for f, b in zip(pdf["fmt"], pdf["bytes"])})
    assert len(cache) == n_distinct
    key = mm.blob_key(pdf["fmt"][1], pdf["bytes"][1])
    poisoned = (True, None, 1.0, 2.0, 3.0, 4.0, 5.0, 6, 7, 8, 9)
    cache[key] = poisoned
    again = mm.blob_columns(pdf.iloc[[1]], mm.FEATURE_COLS, cache)
    assert tuple(v[0] for v in again.values()) == poisoned


def test_blob_kernel_runs_only_requested_kernels(monkeypatch):
    """blob_features(df, ["ahash"]) maps blob_columns over each batch; it
    decodes each distinct blob once and never runs the kernels that
    other columns need (each one here raises if called)."""
    from jimmy_spark.operators import multimodal as mm

    def boom(*_args):
        raise AssertionError("ran a kernel no requested column needs")

    for reg in (mm._STACK_KERNELS, mm._IMAGE_KERNELS, mm._BLOB_KERNELS):
        for name, (_, cols) in list(reg.items()):
            if name != "ahash":
                monkeypatch.setitem(reg, name, (boom, cols))
    decodes = []

    def counted(blob, fmt):
        decodes.append(1)
        return decode_image(blob, fmt)

    monkeypatch.setattr(mm, "decode_image", counted)
    pdf = _kernel_corpus()
    got = mm.blob_columns(pdf, ["ahash"])
    distinct = {(f, bytes(b)) for f, b in zip(pdf["fmt"], pdf["bytes"])}
    assert len(decodes) == len(distinct)
    ref = [mm._features_row(b, f) for b, f in zip(pdf["bytes"], pdf["fmt"])]
    assert list(got["ahash"]) == [r[7] for r in ref]
    assert list(got["ok"]) == [r[0] for r in ref]
