"""kNN via hex-cell candidate expansion + window top-k (exact, provable).

North_rule: "kNN via cell-ring expansion + secondary distance sort".
Reference analogue: the Evernote fuzzy-title join (SURVEY §2.4,
/root/reference/src/jimmy/common.py:373-400) is an O(n^2) theta join; the
scalable shape is *blocking key + candidate join + exact score sort* —
here the blocking key is the hex cell and the score is planar distance.

Density-directed ring expansion, one grid pass and one candidate join:

1. One groupBy(cell).count() over the points, collected to the driver,
   is the only pre-pass (``_grid``). It is the density grid, its sum is
   the point count N, and it drives the coarsening ladder: a rung whose
   grid exceeds MAX_DRIVER_CELLS is cut at MAX_DRIVER_CELLS + 1 rows and
   the next coarser resolution is tried, so the driver never holds more.
2. Per query (vectorized NumPy, driver-side): walk cell-center distances
   outward (geometric radius doubling over the occupied-cell arrays) until
   the cumulative count reaches k at center distance D. Every counted point
   then lies within  d_bound = D + s  (s = hex circumradius), so the true
   k-th distance d_k <= d_bound. The candidate set = occupied cells with
   center distance <= d_bound + s — it provably contains *every* point
   within d_k. This is ring expansion with the ring radius read off the
   density grid instead of discovered by repeated joins. The query's exact
   candidate-row count n_cand is the sum of its chosen cells' counts.
3. ONE broadcast join of the (query, cell) candidate list against the
   cell-keyed points, exact integer dist2, window row_number over
   (dist2, id) <= k. A query with n_cand >= 64·k first gets a sampled upper
   bound on its k-th distance (the k-th dist2 within a deterministic 1/64
   subsample), which prunes its rows before the window sort; only there
   does the sample expect k rows, so only such queries pay for that pass.
   The plan is returned unmaterialized: the caller's action runs it once
   and nothing is left in the cache.
4. Safety rails, decided on the driver: a query whose d_bound approaches
   the int64-exact envelope (deltas ~1.4e9) routes to a DECIMAL
   brute-force pass (margin-pruned, bucketed); so does a query with
   n_cand < min(k, N). The join keeps every candidate row and the sampled
   bound keeps >= k of them, so such a query's top-k would come back
   short (cannot happen by the bound above — defensive).

Determinism: ranking key is (dist2, image_id) — a total order; results are
identical at any parallelism. Candidate dist2 fits int64 exactly (deltas
bounded by d_bound + 2s << 2^31.5); the DuckDB oracle uses HUGEINT.

Output: (query_id, rank, image_id), rank 1..k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jimmy_spark.functions import hexgrid

DEFAULT_RES = 7
_PRUNE_MARGIN = 4096.0
# deltas beyond this lose int64-exactness for dist2 (sqrt(2^63)/2 headroom)
_INT64_SAFE_DELTA = 1_400_000_000.0
# occupied-cell counts above this would strain the driver; fall back to a
# coarser density/blocking grid (hexgrid res 6 or 5) — correctness is
# unaffected, the d_bound math just uses the coarser cell radius
MAX_DRIVER_CELLS = 4_000_000
# the sampled-bound prune ranks the rows whose id hashes to 0 mod this
_SAMPLE_MOD = 64


def _grid(
    points: DataFrame, res: int, id_col: str
) -> tuple[int, DataFrame, pd.DataFrame]:
    """(res, cell-keyed points, density grid) from one aggregation per
    ladder rung (res, 6, 5): the first rung whose grid fits
    MAX_DRIVER_CELLS, else the last. Non-final rungs collect at most
    MAX_DRIVER_CELLS + 1 rows. The points frame is returned lazy."""
    from jimmy_spark.operators.cells import hex_cell_expr

    ladder = list(dict.fromkeys([res, min(res, 6), min(res, 5)]))
    for r in ladder:
        pts = points.select(
            F.col(id_col),
            F.col("lat_e7").alias("p_lat"),
            F.col("lon_e7").alias("p_lon"),
            hex_cell_expr(F.col("lat_e7"), F.col("lon_e7"), r).alias("cell"),
        )
        grid = pts.groupBy("cell").agg(F.count("*").alias("cnt"))
        if r != ladder[-1]:
            grid = grid.limit(MAX_DRIVER_CELLS + 1)
        counts_pdf = grid.toPandas()
        if len(counts_pdf) <= MAX_DRIVER_CELLS:
            break
    return r, pts, counts_pdf


def _dist2(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "dist2",
        (F.col("p_lat") - F.col("q_lat")) * (F.col("p_lat") - F.col("q_lat"))
        + (F.col("p_lon") - F.col("q_lon")) * (F.col("p_lon") - F.col("q_lon")),
    )


def _candidate_cells(
    queries_pdf: pd.DataFrame, counts_pdf: pd.DataFrame, res: int
) -> tuple[pd.DataFrame, list[str]]:
    """Vectorized candidate-cell lists per query from the density grid.

    Returns (candidates(query_id, cell), overflow_query_ids) where overflow
    queries need the DECIMAL brute-force path (planetary d_bound).
    """
    s = hexgrid.SIZES[res]
    cells = counts_pdf["cell"].to_numpy(np.int64)
    cnts = counts_pdf["cnt"].to_numpy(np.int64)
    cy, cx = hexgrid.center(cells)
    total = int(cnts.sum())
    # sorted-by-x index: each probe touches only the cx strip around the
    # query (O(log n) + strip) instead of scanning every occupied cell —
    # matters once the density grid has millions of occupied cells.
    xorder = np.argsort(cx, kind="stable")
    cxs, cys = cx[xorder], cy[xorder]
    cellss, cntss = cells[xorder], cnts[xorder]

    out_q: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    overflow: list[str] = []
    for row in queries_pdf.itertuples():
        qy = float(row.lat_e7)
        qx = float(row.lon_e7)
        k = int(row.k)
        if k >= total:
            d_bound = float("inf")
        else:
            # geometric expansion: smallest center-dist D with cumulative
            # count >= k, probing only the sorted-x strip
            r = 4.0 * s
            while True:
                lo = int(np.searchsorted(cxs, qx - r))
                hi = int(np.searchsorted(cxs, qx + r))
                dstrip = np.hypot(cys[lo:hi] - qy, cxs[lo:hi] - qx)
                m = dstrip <= r
                if cntss[lo:hi][m].sum() >= k or r > 1e10:
                    break
                r *= 4.0
            dm = dstrip[m]
            cm = cntss[lo:hi][m]
            order = np.argsort(dm, kind="stable")
            cum = np.cumsum(cm[order])
            idx = int(np.searchsorted(cum, k))
            D = float(dm[order[min(idx, len(order) - 1)]])
            d_bound = D + s
        if d_bound + 2 * s > _INT64_SAFE_DELTA:
            overflow.append(str(row.query_id))
            continue
        rr = d_bound + s
        lo = int(np.searchsorted(cxs, qx - rr))
        hi = int(np.searchsorted(cxs, qx + rr))
        sel = np.hypot(cys[lo:hi] - qy, cxs[lo:hi] - qx) <= rr
        chosen = cellss[lo:hi][sel]
        out_q.append(np.full(len(chosen), str(row.query_id), dtype=object))
        out_c.append(chosen)
    cand = pd.DataFrame(
        {
            "query_id": np.concatenate(out_q) if out_q else np.array([], object),
            "cell": np.concatenate(out_c) if out_c else np.array([], np.int64),
        }
    )
    return cand, overflow


def knn_join(
    points: DataFrame,
    queries_pdf: pd.DataFrame,
    res: int = DEFAULT_RES,
    id_col: str = "image_id",
) -> DataFrame:
    """points(id, lat_e7, lon_e7) x queries(query_id, lat_e7, lon_e7, k)
    -> (query_id, rank, image_id), exact planar kNN."""
    spark = points.sparkSession
    res, pts, counts_pdf = _grid(points, res, id_col)
    n_total = int(counts_pdf["cnt"].sum())
    cand_pdf, overflow = _candidate_cells(queries_pdf, counts_pdf, res)

    qmeta_pdf = pd.DataFrame(
        {
            "query_id": queries_pdf["query_id"].astype(str),
            "q_lat": queries_pdf["lat_e7"],
            "q_lon": queries_pdf["lon_e7"],
            "k": queries_pdf["k"],
        }
    )
    # completeness and pruning decided on the driver from the grid counts:
    # every point of a chosen cell joins, so n_cand is exact (module doc, 4)
    k_of = dict(zip(qmeta_pdf["query_id"], qmeta_pdf["k"]))
    n_cand = cand_pdf.merge(counts_pdf, on="cell").groupby("query_id")["cnt"].sum()
    short = [
        q
        for q, k in k_of.items()
        if q not in overflow and n_cand.get(q, 0) < min(k, n_total)
    ]
    dense = [q for q, n in n_cand.items() if n >= _SAMPLE_MOD * k_of[q]]
    overflow = list(overflow) + short
    cand_pdf = cand_pdf[~cand_pdf["query_id"].isin(short)]

    # Results stay DISTRIBUTED and lazy: the candidate top-k and the
    # brute-force path are unioned Spark-side and run by the caller's
    # action; only the candidate-cell planning (bounded by
    # MAX_DRIVER_CELLS) touches the driver.
    result_dfs: list[DataFrame] = []
    if len(cand_pdf):
        # query coordinates ride in the one broadcast candidate list
        cand = _dist2(
            F.broadcast(spark.createDataFrame(cand_pdf.merge(qmeta_pdf, on="query_id")))
            .join(pts, "cell")
        ).select("query_id", "k", id_col, "dist2")
        w = Window.partitionBy("query_id").orderBy("dist2", id_col)
        if dense:
            # Dense hot cells can put 10^5-10^6 candidates behind one query
            # and the per-query window sort would dominate. The k-th
            # distance within a deterministic 1/_SAMPLE_MOD subsample is
            # >= the true k-th distance, so filtering dist2 <= bound before
            # ranking discards no true top-k row and keeps >= k rows.
            # cand then runs twice; persisting it was MEASURED SLOWER (bench,
            # 300 queries on 4M rows @local[24]: 18.7s vs 12.8s, cold): the
            # sample filter pushes below the broadcast join, while caching
            # writes the full multi-million-row candidate set.
            sample = cand.filter(
                F.col("query_id").isin(dense)
                & (F.pmod(F.xxhash64(F.col(id_col)), F.lit(_SAMPLE_MOD)) == 0)
            )
            kth = (
                sample.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") == F.col("k"))
                .select("query_id", F.col("dist2").alias("bound"))
            )
            cand = cand.join(F.broadcast(kth), "query_id", "left").filter(
                F.col("bound").isNull() | (F.col("dist2") <= F.col("bound"))
            )
        result_dfs.append(
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", id_col)
        )

    if overflow:
        qmeta = spark.createDataFrame(qmeta_pdf)
        result_dfs.append(_brute_force(pts, qmeta, overflow, id_col))

    if not result_dfs:
        return spark.createDataFrame([], f"query_id string, rank int, {id_col} string")
    out = result_dfs[0]
    for extra in result_dfs[1:]:
        out = out.unionByName(extra)
    return out.select("query_id", F.col("rank").cast("int").alias("rank"), id_col)


def knn_join_big(
    points: DataFrame,
    queries: DataFrame,
    res: int = DEFAULT_RES,
    id_col: str = "image_id",
) -> DataFrame:
    """Distributed-query-set kNN: queries are a DataFrame, not pandas.

    ``knn_join`` plans candidate cells per query ON THE DRIVER and
    broadcasts them — right for interactive batches (hundreds of queries),
    a driver bottleneck when the query set is itself table-sized (every
    image probing its neighborhood). Here the same density-directed
    ring-expansion planning (``_candidate_cells``) runs INSIDE mapInPandas
    over query partitions, with the density grid shipped once per executor
    as an explicit ``sparkContext.broadcast`` (the grid stays bounded by
    the MAX_DRIVER_CELLS coarsening ladder — same invariant as knn_join);
    candidates then meet the cell-keyed points in a plain SHUFFLED join
    (no broadcast anywhere on the candidate path), so both sides stream
    and AQE splits hot cells. The sampled-bound prune, exact int64
    ranking, DECIMAL overflow route and defensive completeness check are
    the same exact semantics as knn_join — results are byte-identical.

    Driver-touching state, each bounded: the density grid (coarsening
    ladder), overflow query ids (planetary-d_bound queries routed to the
    DECIMAL brute pass — pathological by construction), and the
    completeness-violation id list (provably empty; collected only to
    re-route defensively).
    """
    spark = points.sparkSession
    res, pts, counts_pdf = _grid(points, res, id_col)
    pts = pts.persist()
    n_total = int(counts_pdf["cnt"].sum())

    qcols = queries.select("query_id", "lat_e7", "lon_e7", "k")
    qmeta = qcols.select(
        "query_id",
        F.col("lat_e7").alias("q_lat"),
        F.col("lon_e7").alias("q_lon"),
        "k",
    )
    grid_bc = spark.sparkContext.broadcast(counts_pdf)

    def plan(batches):
        grid = grid_bc.value
        for pdf in batches:
            cand, overflow = _candidate_cells(pdf, grid, res)
            if overflow:
                cand = cand.assign(cell=cand["cell"].astype("Int64"))
                cand = pd.concat(
                    [
                        cand,
                        pd.DataFrame(
                            {
                                "query_id": np.array(overflow, dtype=object),
                                "cell": pd.array(
                                    [None] * len(overflow), dtype="Int64"
                                ),
                            }
                        ),
                    ],
                    ignore_index=True,
                )
            yield cand

    def _cand_df() -> DataFrame:
        # re-instantiated per pass like knn_join's candidate frame:
        # planning is a bounded strip walk per query — cheaper than
        # persisting the (query x cells) candidate stream (measured on the
        # driver-side twin; same trade here)
        return qcols.mapInPandas(plan, "query_id string, cell long")

    overflow_ids = [
        r.query_id
        for r in _cand_df().filter(F.col("cell").isNull()).select("query_id")
        .distinct().collect()
    ]

    def _scored() -> DataFrame:
        return _dist2(
            _cand_df()
            .filter(F.col("cell").isNotNull())
            .join(pts, "cell")
            .join(qmeta, "query_id")
        ).select("query_id", "k", id_col, "dist2")

    result_dfs: list[DataFrame] = []
    w = Window.partitionBy("query_id").orderBy("dist2", id_col)
    sample = _scored().filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(_SAMPLE_MOD)) == 0
    )
    kth = (
        sample.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == F.col("k"))
        .select("query_id", F.col("dist2").alias("bound"))
    )
    topk = (
        _scored()
        .join(kth, "query_id", "left")  # NOT broadcast: one row per query,
        # query-set-sized by assumption
        .filter(F.col("bound").isNull() | (F.col("dist2") <= F.col("bound")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", id_col)
        .localCheckpoint(eager=True)
    )
    # defensive completeness check, distributed: join planned queries
    # against their result counts; the violation set is provably empty
    # (d_bound argument) and only its ids ever reach the driver
    planned = _cand_df().filter(F.col("cell").isNotNull()).select("query_id").distinct()
    got_n = topk.groupBy("query_id").agg(F.count("*").alias("n"))
    short_ids = [
        r.query_id
        for r in planned.join(got_n, "query_id", "left")
        .join(qcols.select("query_id", "k"), "query_id")
        .filter(
            F.coalesce(F.col("n"), F.lit(0))
            < F.least(F.col("k"), F.lit(n_total))
        )
        .select("query_id")
        .collect()
    ]
    if short_ids:
        overflow_ids = overflow_ids + short_ids
        topk = topk.filter(~F.col("query_id").isin(short_ids))
    result_dfs.append(topk)

    if overflow_ids:
        result_dfs.append(
            _brute_force(pts, qmeta, overflow_ids, id_col).localCheckpoint(
                eager=True
            )
        )

    pts.unpersist()
    out = result_dfs[0]
    for extra in result_dfs[1:]:
        out = out.unionByName(extra)
    return out.select("query_id", F.col("rank").cast("int").alias("rank"), id_col)


def _brute_force(
    pts: DataFrame, qmeta: DataFrame, qids: list[str], id_col: str
) -> DataFrame:
    """Exact shared pass for planetary-distance queries, two-phase:
    bucket-local double top-k with a provable prune margin (double dist2
    error <= 2048 ulp at 1.6e19 magnitude; margin 4096 covers both sides),
    then DECIMAL(38,0)-exact ranking of the tiny survivor set."""
    q = F.broadcast(qmeta.filter(F.col("query_id").isin(qids)))
    dlat = (F.col("p_lat") - F.col("q_lat")).cast("double")
    dlon = (F.col("p_lon") - F.col("q_lon")).cast("double")
    cand = (
        pts.withColumn("bkt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(64)))
        .crossJoin(q)
        .withColumn("dist2d", dlat * dlat + dlon * dlon)
    )
    wd = Window.partitionBy("query_id", "bkt").orderBy("dist2d", id_col)
    kth = Window.partitionBy("query_id", "bkt")
    pruned = (
        cand.withColumn("rankd", F.row_number().over(wd))
        .withColumn(
            "kth_d",
            F.max(F.when(F.col("rankd") == F.col("k"), F.col("dist2d"))).over(kth),
        )
        .filter(
            F.col("dist2d")
            <= F.coalesce(F.col("kth_d"), F.lit(float("inf"))) + F.lit(_PRUNE_MARGIN)
        )
    )
    dlat_e = F.col("p_lat").cast("decimal(20,0)") - F.col("q_lat").cast("decimal(20,0)")
    dlon_e = F.col("p_lon").cast("decimal(20,0)") - F.col("q_lon").cast("decimal(20,0)")
    exact = pruned.withColumn("dist2", dlat_e * dlat_e + dlon_e * dlon_e)
    w = Window.partitionBy("query_id").orderBy("dist2", id_col)
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", id_col)
    )


def duckdb_knn_sql(points_sql: str, queries_path: str, id_col: str = "image_id") -> str:
    """Brute-force oracle: exact HUGEINT distances, same tie-break."""
    return f"""
WITH pts AS ({points_sql}),
q AS (SELECT * FROM '{queries_path}'),
d AS (
  SELECT q.query_id, q.k, p.{id_col},
         (p.lat_e7::HUGEINT - q.lat_e7) * (p.lat_e7::HUGEINT - q.lat_e7)
       + (p.lon_e7::HUGEINT - q.lon_e7) * (p.lon_e7::HUGEINT - q.lon_e7) AS dist2
  FROM q CROSS JOIN pts p
),
r AS (
  SELECT query_id, k, {id_col}, dist2,
         row_number() OVER (PARTITION BY query_id ORDER BY dist2, {id_col}) AS rank
  FROM d
)
SELECT query_id, rank, {id_col} FROM r WHERE rank <= k
"""
