"""Golden-parquet oracle generator for the deterministic queries whose
semantics are not SQL-expressible (Hilbert LUT, image decode, LSH/IVF ANN).

Each golden is computed LOCALLY (pandas/NumPy/DuckDB — no Spark) by the
reference implementation of the same algorithm and committed under
``goldens/``; ``oracle_sql()`` then reads it with
``SELECT ... FROM '<golden>.parquet'`` so the driver's correctness gate
hash-checks the distributed execution path (partitioning, Arrow transport,
UDF batching) against the single-process reference. Model: jimmy's
reference_data fixtures (/root/reference/test/test_convert.py:70-113).

Inputs are the deterministic seeded datasets the registry queries read:
the t2 engine tables (data/t2, regenerated bit-identically from the seed)
and the driver's sf0.01 testdata (the fixed sf at which the driver runs
the correctness gate). Rerun after changing datagen or any covered kernel:

    python scripts/make_goldens.py
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

GOLDEN_DIR = REPO / "goldens"
SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness-gate sf


def _round6(x: float) -> float:
    """Spark round(double, 6): BigDecimal(Double.toString(x)) HALF_UP."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _seq_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Strict left-to-right accumulation — matches Spark's
    F.aggregate(zip_with(a,b,*), 0.0, +) evaluation order exactly."""
    acc = 0.0
    for p in (a * b):  # elementwise products are order-independent
        acc += float(p)
    return acc


def _cos_r(q: np.ndarray, v: np.ndarray) -> float:
    import math

    return _round6(_seq_dot(q, v) / math.sqrt(_seq_dot(q, q) * _seq_dot(v, v)))


def golden_s2_cells() -> pd.DataFrame:
    from jimmy_spark.functions import s2
    from jimmy_spark.queries import _georef_sql

    pts = duckdb.sql(_georef_sql()).df()
    lat = pts["lat_e7"].to_numpy()
    lon = pts["lon_e7"].to_numpy()
    out = pd.DataFrame({"image_id": pts["image_id"]})
    for level in (12, 14, 16):
        out[f"s2_l{level}"] = s2.encode(lat, lon, level)
    return out


def golden_decode_stats() -> pd.DataFrame:
    from jimmy_spark.operators.decode import _decode_batch
    from jimmy_spark.queries import _t2

    imgs = pd.read_parquet(f"{_t2()}/images.parquet")
    out = _decode_batch(imgs)
    return out[["image_id", "ok", "px_checksum", "px_mean_milli"]]


def golden_image_features() -> pd.DataFrame:
    from jimmy_spark.operators.multimodal import FEATURE_COLS, blob_columns
    from jimmy_spark.queries import _t2

    imgs = pd.read_parquet(f"{_t2()}/images.parquet")
    out = pd.DataFrame(
        {"image_id": imgs["image_id"].to_numpy(), **blob_columns(imgs, FEATURE_COLS)}
    )
    # keep the all-null error column STRING-typed in parquet (an all-None
    # object column would be written as null type -> DuckDB float64 NaN,
    # mismatching Spark's string/None)
    out["error"] = out["error"].astype("string")
    return out


def golden_audio_features() -> pd.DataFrame:
    from jimmy_spark.datagen import ensure_media
    from jimmy_spark.operators.multimodal import _audio_batch

    d = str(ensure_media())
    out = _audio_batch(pd.read_parquet(f"{d}/audios.parquet"))
    out["error"] = out["error"].astype("string")
    return out


def golden_video_frames() -> pd.DataFrame:
    from jimmy_spark.datagen import ensure_media
    from jimmy_spark.operators.multimodal import _video_batch

    d = str(ensure_media())
    out = _video_batch(pd.read_parquet(f"{d}/videos.parquet"), every_n=3)
    out["error"] = out["error"].astype("string")
    # match Spark's VIDEO_SCHEMA int widths
    return out.astype(
        {"frame_idx": "int32", "fps": "int32",
         "mean_milli": "int64", "frame_crc": "int64"}
    )


def golden_markup_rewrite() -> pd.DataFrame:
    from jimmy_spark.functions.markup import (
        bbcode_to_md,
        cherrytree_to_md,
        colornote_to_md,
        enml_to_md,
        html_to_md,
        roam_to_md,
        tiddly_to_md,
        wiki_to_md,
    )

    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "lang", "source", "text"]
    )
    out = pd.DataFrame({"doc_id": docs["doc_id"]})
    zim, tid, roam, bb, htm, enx, cn, ct = [], [], [], [], [], [], [], []
    for r in docs.itertuples():
        did = str(r.doc_id)
        snip = r.text[:24]
        zim.append(wiki_to_md(
            f"====== {r.lang} ======\n[ ] review {did}\n[*] done\n"
            f"see [[notes/{did}|{r.source}]] and {{{{img{did}.png}}}} //{snip}//"
        ))
        tid.append(tiddly_to_md(
            f"!! {r.lang}\n|id|src|h\n|{did}|{r.source}|\n# step {did}\n"
            f"* see [[Doc {did}|doc-{did}]] ''{snip}'' {{{{{{{snip}}}}}}}"
        ))
        roam.append(roam_to_md(
            f"- {{{{[[TODO]]}}}} review ((blk-{did})) ^^{r.lang}^^\n"
            f"Status:: {r.source}\n{{{{[[embed]]: ((blk-{did}))}}}}"
        ))
        bb.append(bbcode_to_md(
            f"[h2]{r.lang}[/h2]\n[list]\n[*] [b]{r.source}[/b] "
            f"[url=http://d/{did}]doc {did}[/url]\n[/list]\n"
            f"[img]img{did}.png[/img] [code]{snip}[/code]"
        ))
        htm.append(html_to_md(
            f"<h1>{r.lang}</h1><p><b>{r.source}</b><b> says</b> &amp; "
            f'<a href="http://d/{did}">doc {did}</a></p>'
            f"<ul><li><i>{snip}</i></li></ul>"
            f"<table><tr><td><h3>id</h3></td><td>src</td></tr>"
            f"<tr><td>{did}<br/>x</td><td><span>{r.source}</span></td></tr>"
            f'</table><div class="checklist">'
            f'<div class="checked">review {did}</div>'
            f'<div class="unchecked">publish</div></div>'
            f"<p><u>due</u> <s>done</s> <mark>{r.lang}</mark> <i></i> "
            f'<iframe src="https://d/{did}"></iframe></p>'
            f"<h4><b>{r.source}</b></h4>"
            f'<a href="https://d/{did}">go</a> <a href="https://d/{did}">go</a>'
            f"<pre><code>{snip}</code></pre>"
            f'<h2 id="sec{did}">Part {r.lang}</h2><a href="#sec{did}">top</a>'
            f'<ul class="to-do-list"><li>'
            f'<div class="checkbox checkbox-on"></div>plan {did}</li>'
            f'<li><div class="checkbox checkbox-off"></div>ship</li></ul>'
            f'<ul><li data-checked="true"><div>pay {r.source}</div></li></ul>'
            f"<ul><li>one{did}</li></ul><ul><li>two</li></ul>"
            f"<table><tr><td></td><td></td><td>A</td></tr>"
            f"<tr><td>1</td><td></td><td>cell {did}</td></tr></table>"
            f'<span class="nn-marker">hot {r.lang}</span> '
            f'<span class="mention-link" data-mention-type="note" '
            f'data-mention-name="Doc {did}">Doc {did}</span>'
            f'<ul><li class="list-item-bullet indent-0">root {did}</li>'
            f'<li class="list-item-checkbox indent-1" data-checked="true">'
            f"leaf</li></ul>"
            f'<div style="padding-left: 30px;">'
            f'<input class="syno-notestation-editor-checkbox-checked"/>'
            f"syn {did}</div>"
            f'<img class="syno-notestation-image-object" '
            f'src="webman/3rdparty/NoteStation/images/transparent.gif" '
            f'ref="r{did}.png">'
        ))
        enx.append(enml_to_md(
            f"<en-note><h2>{r.lang}</h2><div>doc {did} by <b>{r.source}</b>"
            f'</div><en-todo checked="true"/>reviewed<en-todo/>{snip}'
            f'<br/><en-media hash="h{did}" type="image/png"/>'
            f"<table><tr><td>{r.source}</td><td>{did}</td></tr></table></en-note>"
        ))
        cn.append(colornote_to_md(
            f"[V] reviewed {did}\n[ ] publish to {r.source}\nnote: {snip}"
        ))
        ct.append(cherrytree_to_md(
            f"• {r.lang}\n◦ doc {did}\n▪ {snip}\n• by {r.source}"
        ))
    out["md_zim"] = zim
    out["md_tid"] = tid
    out["md_roam"] = roam
    out["md_bb"] = bb
    out["md_html"] = htm
    out["md_enex"] = enx
    out["md_cn"] = cn
    out["md_ct"] = ct
    return out


def _load_embeddings() -> tuple[np.ndarray, np.ndarray]:
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy(np.int64)
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], X[order]


def _rank_topk(
    rows: list[tuple[int, int, float]], k: int
) -> pd.DataFrame:
    """rows = (query_id, vec_id, cos_r) -> top-k per query ranked by
    (cos_r DESC, vec_id ASC), Spark row_number semantics."""
    out = []
    df = pd.DataFrame(rows, columns=["query_id", "vec_id", "cos_r"])
    for qid, g in df.groupby("query_id"):
        g = g.sort_values(["cos_r", "vec_id"], ascending=[False, True])
        g = g.head(k).reset_index(drop=True)
        g["rank"] = np.arange(1, len(g) + 1, dtype=np.int64)
        out.append(g)
    res = pd.concat(out, ignore_index=True)
    return res[["query_id", "rank", "vec_id", "cos_r"]].astype(
        {"query_id": np.int64, "rank": np.int64, "vec_id": np.int64}
    )


def golden_ann_lsh() -> pd.DataFrame:
    from jimmy_spark.operators.similarity import _hyperplanes
    from jimmy_spark.queries import ANN_QUERY_IDS

    k, n_bits, n_tables = 10, 4, 8  # ann_topk_lsh defaults used by q_ann_lsh
    ids, X = _load_embeddings()
    dim = X.shape[1]
    buckets = np.empty((len(ids), n_tables), dtype=np.int64)
    for t in range(n_tables):
        pl = _hyperplanes(dim, n_bits, t)
        bits = (X @ pl.T > 0).astype(np.int64)
        sig = (bits << np.arange(n_bits, dtype=np.int64)).sum(axis=1)
        buckets[:, t] = sig + (t << np.int64(n_bits + 1))
    idx_of = {int(v): i for i, v in enumerate(ids)}
    rows = []
    for qid in ANN_QUERY_IDS:
        qi = idx_of[qid]
        qb = set(buckets[qi].tolist())
        cand = np.unique(
            np.nonzero(np.isin(buckets, list(qb)).any(axis=1))[0]
        )
        for ci in cand:
            if ids[ci] == qid:
                continue
            rows.append((qid, int(ids[ci]), _cos_r(X[qi], X[ci])))
    return _rank_topk(rows, k)


def golden_ann_ivf() -> pd.DataFrame:
    from jimmy_spark.operators.ivf import SAMPLE_N, lloyd_numpy
    from jimmy_spark.queries import ANN_QUERY_IDS

    k, n_centroids, nprobe, iters = 10, 16, 6, 5  # q_ann_ivf parameters
    ids, X = _load_embeddings()
    centroids = lloyd_numpy(ids[:SAMPLE_N], X[:SAMPLE_N], n_centroids, iters)
    c2 = (centroids * centroids).sum(axis=1)
    cid = np.argmin(-2.0 * (X @ centroids.T) + c2[None, :], axis=1)
    idx_of = {int(v): i for i, v in enumerate(ids)}
    rows = []
    for qid in ANN_QUERY_IDS:
        qi = idx_of[qid]
        d = ((centroids - X[qi]) ** 2).sum(axis=1)
        probe = set(np.argsort(d, kind="stable")[:nprobe].tolist())
        for ci in np.nonzero(np.isin(cid, list(probe)))[0]:
            if ids[ci] == qid:
                continue
            rows.append((qid, int(ids[ci]), _cos_r(X[qi], X[ci])))
    return _rank_topk(rows, k)


def golden_fuzzy_pairs() -> pd.DataFrame:
    """Difflib fuzzy-join pairs at the driver's gate sf, computed by the
    pure-Python oracle (same blocking keys + scorer as the pytest oracle,
    tests/test_textops.py TestFuzzy; reference semantics: get_best_match,
    /root/reference/src/jimmy/common.py:373-400). q_fuzzy_pairs runs
    fuzzy.fuzzy_pairs(threshold=0.5): block on lang, overlapping 16-token
    buckets (pairs meet iff |bucket_a - bucket_b| <= 1), difflib ratio
    milli >= 500, (doc_a < doc_b)."""
    import re
    from difflib import SequenceMatcher

    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "lang", "text"]
    )
    docs["bucket"] = [
        len(re.split(r"\s+", t.strip())) // 16 for t in docs["text"]
    ]
    rows = []
    for _, g in docs.groupby("lang"):
        recs = sorted(g.itertuples(), key=lambda r: r.doc_id)
        for i in range(len(recs)):
            for j in range(i + 1, len(recs)):
                a, b = recs[i], recs[j]
                if abs(a.bucket - b.bucket) > 1:
                    continue
                r = int(SequenceMatcher(None, a.text, b.text).ratio() * 1000)
                if r >= 500:
                    rows.append((a.doc_id, b.doc_id, r))
    return pd.DataFrame(
        rows, columns=["doc_a", "doc_b", "ratio_milli"]
    ).astype({"doc_a": np.int64, "doc_b": np.int64, "ratio_milli": np.int64})


GOLDENS = {
    "s2_cells": golden_s2_cells,
    "decode_stats": golden_decode_stats,
    "image_features": golden_image_features,
    "markup_rewrite": golden_markup_rewrite,
    "audio_features": golden_audio_features,
    "video_frames": golden_video_frames,
    "ann_lsh": golden_ann_lsh,
    "ann_ivf": golden_ann_ivf,
    "fuzzy_pairs": golden_fuzzy_pairs,
}


def main() -> None:
    GOLDEN_DIR.mkdir(exist_ok=True)
    for name, fn in GOLDENS.items():
        pdf = fn()
        path = GOLDEN_DIR / f"{name}.parquet"
        pdf.to_parquet(path, index=False)
        print(f"{name}: {len(pdf)} rows -> {path}")


if __name__ == "__main__":
    main()
