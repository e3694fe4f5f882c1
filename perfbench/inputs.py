"""Seeded input generation, input-property report and output oracles.

Everything here runs once per (workload, seed, size) before Spark starts and
is cached on disk: the inputs as parquet, and ``meta.json`` holding the
input properties (measured from the generated arrays) and the oracle
digests every op result is compared with.

A digest reduces a result to ``[count, s1, s2]``: two order-insensitive sums
of the row's integer key columns taken modulo two primes. The same formulas
run as Spark SQL (``pair_digest_sql``), DuckDB SQL and numpy, so a result and
its oracle are compared without collecting either.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

P1 = 2147483647
P2 = 2147483629

# world extent and grid level shared by every spatial workload
EXTENT = (0.0, 0.0, 100.0, 100.0)
LEVEL = 5
# rows above which a level-5 cell is salted; both join workloads use it,
# so the uniform one has no hot cell and the skewed one has several
SALT_THRESHOLD = 400
# grid level of the persisted index, and the side (in its cells) of the
# square block the mutation batch stays in: one cell of 16
PERSIST_LEVEL = 2
MUTATE_BLOCK = 1
DEDUP_THRESHOLD = 0.8
KNN_K = 8
ANN_K = 10

SIZES = {
    "full": {
        "join_n": 20_000, "join_m": 5_000, "persist_m": 1_500, "mutate_n": 500,
        "tiles": 1_000, "zones": 40, "vectors": 2_000, "vec_probes": 64,
        "knn_probes": 1_000,
    },
    "tiny": {
        "join_n": 6_000, "join_m": 1_500, "persist_m": 500, "mutate_n": 200,
        "tiles": 300, "zones": 12, "vectors": 600, "vec_probes": 32,
        "knn_probes": 100,
    },
}


# -- digests ------------------------------------------------------------------

def pair_digest_sql(a: str, b: str, c: str | None = None) -> list[str]:
    """Spark/DuckDB aggregate expressions of the digest of (a, b[, c])."""
    third = f" + {c}" if c else ""
    return [
        "count(*)",
        f"sum(({a} * 1000003 + {b}) % {P1})",
        f"sum(({a} + {b} * 999983{third}) % {P2})",
    ]


def pair_digest_np(a, b, c=None) -> list[int]:
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    third = np.asarray(c, dtype=np.int64) if c is not None else 0
    return [int(len(a)), int(((a * 1000003 + b) % P1).sum()),
            int(((a + b * 999983 + third) % P2).sum())]


# -- geometry helpers ---------------------------------------------------------

def _axis_cells(coord, lo: float, size: float, side: int):
    return np.clip(np.floor((coord - lo) / size * side).astype(np.int64), 0, side - 1)


def cell_ranges(boxes: np.ndarray, level: int = LEVEL):
    """Per box, the inclusive ranges of level-``level`` grid cells it covers,
    with the engine's tiling convention (cell = ix * side + iy, clamped)."""
    side = 1 << level
    x0, y0, x1, y1 = EXTENT
    w, h = x1 - x0, y1 - y0
    return (_axis_cells(boxes[:, 0], x0, w, side), _axis_cells(boxes[:, 2], x0, w, side),
            _axis_cells(boxes[:, 1], y0, h, side), _axis_cells(boxes[:, 3], y0, h, side))


def explode_cells(ids: np.ndarray, boxes: np.ndarray, level: int = LEVEL):
    """(id, cell) for every grid cell each box covers."""
    side = 1 << level
    ix0, ix1, iy0, iy1 = cell_ranges(boxes, level)
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
    reps = nx * ny
    row = np.repeat(np.arange(len(ids)), reps)
    k = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    ix = ix0[row] + k // ny[row]
    iy = iy0[row] + k % ny[row]
    return ids[row], ix * side + iy


def _box_table(ids, boxes, id_name="id") -> pa.Table:
    return pa.table({id_name: ids.astype(np.int64), "xmin": boxes[:, 0], "ymin": boxes[:, 1],
                     "xmax": boxes[:, 2], "ymax": boxes[:, 3]})


def _boxes(cx, cy, sx, sy) -> np.ndarray:
    return np.column_stack([cx, cy, cx + sx, cy + sy])


def _hot_share(ids, boxes) -> tuple[float, float, int]:
    """(cells per box, share of exploded rows in cells above the salt
    threshold, number of such cells) at the benchmark level."""
    _, cells = explode_cells(ids, boxes)
    counts = np.bincount(cells, minlength=1 << (2 * LEVEL))
    hot = counts > SALT_THRESHOLD
    return len(cells) / len(ids), float(counts[hot].sum() / len(cells)), int(hot.sum())


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    return con


def _overlap_digest(con, left: str, right: str, lid: str, rid: str, extra: str = "") -> list[int]:
    """Digest of all closed-interval overlapping (left, right) id pairs.

    Both sides are spread over a 128 x 128 grid (every cell a box spans) so
    DuckDB runs an equi-join; two overlapping boxes share at least one cell,
    and DISTINCT drops the pairs met in several."""
    def gridded(t, idc):
        ax = "least(127, greatest(0, CAST(floor({} / 100.0 * 128) AS BIGINT)))"
        return f"""(SELECT {idc} AS gid, xmin, ymin, xmax, ymax, gx, gy FROM (
            SELECT *, unnest(range({ax.format('xmin')}, {ax.format('xmax')} + 1)) AS gx
            FROM {t}), LATERAL (SELECT unnest(range({ax.format('ymin')}, {ax.format('ymax')} + 1)) AS gy))"""
    row = con.execute(f"""
        WITH p AS (
          SELECT DISTINCT l.gid AS a, r.gid AS b
          FROM {gridded(left, lid)} l JOIN {gridded(right, rid)} r
            ON l.gx = r.gx AND l.gy = r.gy
           AND r.xmin <= l.xmax AND l.xmin <= r.xmax
           AND r.ymin <= l.ymax AND l.ymin <= r.ymax {extra.replace('l.id', 'l.gid').replace('r.id', 'r.gid')})
        SELECT {', '.join(pair_digest_sql('a', 'b'))} FROM p""").fetchone()
    return [int(v or 0) for v in row]


# -- workloads ----------------------------------------------------------------

def _uniform_boxes(rng, n, smin=0.01, smax=0.3):
    return _boxes(rng.random(n) * 100, rng.random(n) * 100,
                  rng.uniform(smin, smax, n), rng.uniform(smin, smax, n))


def _skewed_centres(rng, n):
    """Centres from zipf-weighted (s = 1.5) gaussian clusters, with one
    hotspot that puts a fifth of the rows into a single level-5 cell."""
    k = 64
    weights = 1.0 / np.arange(1, k + 1) ** 1.5
    weights /= weights.sum()
    centres = rng.uniform(10, 90, (k, 2))
    cell = 100.0 / (1 << LEVEL)
    n_hot = n // 5
    which = rng.choice(k, n - n_hot, p=weights)
    pts = centres[which] + rng.normal(0, 2.0, (n - n_hot, 2))
    hx, hy = rng.integers(4, (1 << LEVEL) - 4, 2) * cell
    hot = np.column_stack([hx + rng.uniform(0.05, 0.75, n_hot) * cell,
                           hy + rng.uniform(0.05, 0.75, n_hot) * cell])
    pts = np.vstack([pts, hot])
    return np.clip(pts, 0.0, 99.0)


def _density_scale(pts, n_ref):
    """Side multiplier that keeps the expected overlaps per box near the
    uniform workload's: sides shrink with the square root of local density."""
    side = 64
    ij = np.clip((pts / 100.0 * side).astype(np.int64), 0, side - 1)
    counts = np.bincount(ij[:, 0] * side + ij[:, 1], minlength=side * side)
    local = counts[ij[:, 0] * side + ij[:, 1]]
    mean = n_ref / (side * side)
    return np.minimum(1.0, np.sqrt(mean / np.maximum(local, 1)))


def _gen_join(rng, size, skewed: bool, out: str) -> tuple[dict, np.ndarray, np.ndarray]:
    """Boxes and probes of the join ops → (meta, ids, boxes)."""
    n, m = size["join_n"], size["join_m"]
    if skewed:
        pts = _skewed_centres(rng, n)
        f = _density_scale(pts, n)
        data = _boxes(pts[:, 0], pts[:, 1], rng.uniform(0.01, 0.3, n) * f,
                      rng.uniform(0.01, 0.3, n) * f)
        perm = rng.permutation(n)  # hot rows must not sit in one file range
        data = data[perm]
        qp = pts[rng.choice(n, m)] + rng.normal(0, 0.2, (m, 2))
        g = _density_scale(qp, m)
        probes = _boxes(qp[:, 0], qp[:, 1], rng.uniform(0.2, 1.0, m) * g,
                        rng.uniform(0.2, 1.0, m) * g)
    else:
        data = _uniform_boxes(rng, n)
        probes = _uniform_boxes(rng, m, 0.2, 1.0)
    ids = np.arange(n, dtype=np.int64)
    qids = np.arange(m, dtype=np.int64)
    _write(out, {"data.parquet": _box_table(ids, data),
                       "probes.parquet": _box_table(qids, probes, "qid")})
    e_ids, e_cells = explode_cells(ids, data)
    cells_per_box, salted, hot_cells = _hot_share(ids, data)
    con = _duck()
    con.execute(f"CREATE TABLE d AS SELECT * FROM '{out}/data.parquet'")
    con.execute(f"CREATE TABLE q AS SELECT * FROM '{out}/probes.parquet'")
    oracle = {
        "build": pair_digest_np(e_ids, e_cells),
        "join": _overlap_digest(con, "q", "d", "qid", "id"),
        "self_join": _overlap_digest(con, "d", "d", "id", "id", "AND l.id < r.id"),
    }
    con.close()
    props = {"tiling.cells_per_box": cells_per_box, "probe.salted_share": salted,
             "probe.hot_cells": hot_cells}
    return {"oracle": oracle, "props": props}, ids, data


def _gen_persist(rng, size, out: str, ids: np.ndarray, data: np.ndarray) -> dict:
    """Probes and the mutation batch of the persisted-index ops over
    ``data``. The batch stays in one block of MUTATE_BLOCK^2 cells at
    PERSIST_LEVEL."""
    n, m, k = len(ids), size["persist_m"], size["mutate_n"]
    side = 1 << PERSIST_LEVEL
    cell = 100.0 / side
    b0 = rng.integers(0, side - MUTATE_BLOCK + 1, 2)
    lo = b0 * cell
    hi = (b0 + MUTATE_BLOCK) * cell
    margin = 0.31
    ins_pts = rng.uniform(lo, hi - margin, (k, 2))
    ins = _boxes(ins_pts[:, 0], ins_pts[:, 1], rng.uniform(0.01, 0.3, k), rng.uniform(0.01, 0.3, k))
    ins_ids = np.arange(n, n + k, dtype=np.int64)
    inside = np.flatnonzero((data[:, 0] >= lo[0]) & (data[:, 1] >= lo[1])
                            & (data[:, 2] < hi[0]) & (data[:, 3] < hi[1]))
    erase_ids = np.sort(rng.choice(inside, min(k, len(inside)), replace=False))
    # a fifth of the probes land on the mutated block, so the after-query
    # sees both the inserted and the erased rows
    n_local = m // 5
    qpts = np.vstack([rng.random((m - n_local, 2)) * 100,
                      rng.uniform(lo, hi, (n_local, 2))])
    probes = _boxes(qpts[:, 0], qpts[:, 1], rng.uniform(0.2, 1.0, m), rng.uniform(0.2, 1.0, m))
    qids = np.arange(m, dtype=np.int64)
    tables = {"lq_probes.parquet": _box_table(qids, probes, "qid"),
              "insert.parquet": _box_table(ins_ids, ins),
              "erase.parquet": pa.table({"id": erase_ids})}
    _write(out, tables)
    keep = np.ones(n, bool)
    keep[erase_ids] = False
    after = np.vstack([data[keep], ins])
    after_ids = np.concatenate([ids[keep], ins_ids])
    con = _duck()
    con.execute(f"CREATE TABLE d AS SELECT * FROM '{out}/data.parquet'")
    con.register("after_t", _box_table(after_ids, after))
    con.execute("CREATE TABLE a AS SELECT * FROM after_t")
    con.execute(f"CREATE TABLE q AS SELECT * FROM '{out}/lq_probes.parquet'")
    oracle = {"loaded_query": _overlap_digest(con, "q", "d", "qid", "id"),
              "loaded_query_after": _overlap_digest(con, "q", "a", "qid", "id")}
    con.close()
    _, c_ins = explode_cells(ins_ids, ins, PERSIST_LEVEL)
    _, c_del = explode_cells(erase_ids, data[erase_ids], PERSIST_LEVEL)
    dirty = len(np.union1d(c_ins, c_del)) / side ** 2
    props = {"mutate.dirty_cell_share": dirty, "persist.live_after": int(len(after_ids))}
    return {"oracle": oracle, "props": props}


# -- image_ops ----------------------------------------------------------------

_FT_WS = [16, 24, 32]
_FT_HS = [12, 16, 24]
_FMTS = ["raw", "png", "lossy"]


def _tile_pixels(tid: int, w: int, h: int) -> np.ndarray:
    """pixel[r, c, ch] = (id*31 + r*7 + c*13 + ch*101) % 256, the closed-form
    tile recipe whose decoded values the zonal oracle recomputes in SQL."""
    r = np.arange(h, dtype=np.int64)[:, None, None] * 7
    c = np.arange(w, dtype=np.int64)[None, :, None] * 13
    ch = np.arange(3, dtype=np.int64)[None, None, :] * 101
    return ((tid * 31 + r + c + ch) % 256).astype(np.uint8)


def _captions(rng, n: int) -> tuple[list[str], float]:
    """20 distinct words per caption from a 3000-word vocabulary; a tenth of
    the rows copy an earlier caption with one word replaced (Jaccard 19/21)."""
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    caps = [list(rng.choice(vocab, 20, replace=False)) for _ in range(n)]
    n_dup = n // 10
    srcs = rng.choice(n - n_dup, n_dup, replace=False)
    for j, s in zip(range(n - n_dup, n), srcs):
        words = list(caps[s])
        pos = int(rng.integers(0, 20))
        new = vocab[int(rng.integers(0, len(vocab)))]
        while new in words:
            new = vocab[int(rng.integers(0, len(vocab)))]
        words[pos] = new
        caps[j] = words
    texts = [" ".join(c) for c in caps]
    return texts, n_dup / n


def jaccard_pairs(texts: list[str], ids: np.ndarray, threshold: float) -> dict:
    """Exact token-set Jaccard of every pair sharing a token and scoring at
    least ``threshold`` → {(id_a, id_b): (n_inter, n_union)}."""
    sets = [frozenset(t.split()) for t in texts]
    post: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for tok in s:
            post.setdefault(tok, []).append(i)
    counts: dict[tuple[int, int], int] = {}
    for lst in post.values():
        if len(lst) > 50:  # no generated token is this common
            continue
        for x in range(len(lst)):
            for y in range(x + 1, len(lst)):
                key = (lst[x], lst[y])
                counts[key] = counts.get(key, 0) + 1
    out = {}
    for (i, j), inter in counts.items():
        union = len(sets[i]) + len(sets[j]) - inter
        if inter / union >= threshold:
            a, b = sorted((int(ids[i]), int(ids[j])))
            out[(a, b)] = (inter, union)
    return out


def _gen_image(rng, size, out: str) -> dict:
    from python_prtree_spark.functions.codec import decode_image, encode_image, phash64

    t, z = size["tiles"], size["zones"]
    ids = np.sort(rng.choice(10_000_000, t, replace=False)).astype(np.int64)
    texts, dup_share = _captions(rng, t)
    x0 = rng.integers(2000, 92000, t) / 1000.0
    y0 = rng.integers(2000, 92000, t) / 1000.0
    cols = {k: [] for k in ("bytes", "w", "h", "fmt", "phash")}
    for tid in ids:
        tid = int(tid)
        w, h, fmt = _FT_WS[tid % 3], _FT_HS[tid % 3], _FMTS[(tid // 3) % 3]
        data = encode_image(_tile_pixels(tid, w, h), fmt)
        cols["bytes"].append(data)
        cols["w"].append(w)
        cols["h"].append(h)
        cols["fmt"].append(fmt)
        cols["phash"].append(int(phash64(decode_image(data))))
    ws = np.array(cols["w"], dtype=np.float64)
    hs = np.array(cols["h"], dtype=np.float64)
    tiles = pa.table({
        "id": ids, "image_id": [f"img{i:010d}" for i in ids],
        "bytes": pa.array(cols["bytes"], pa.binary()),
        "w": pa.array(cols["w"], pa.int32()), "h": pa.array(cols["h"], pa.int32()),
        "fmt": cols["fmt"], "caption": texts, "phash": pa.array(cols["phash"], pa.int64()),
        "xmin": x0, "ymin": y0, "xmax": x0 + ws * 0.125, "ymax": y0 + hs * 0.125,
    })
    cx = rng.integers(5000, 95000, z) / 1000.0
    cy = rng.integers(5000, 95000, z) / 1000.0
    r = rng.integers(2000, 10000, z) / 1000.0
    zones = pa.table({"poly_id": np.arange(z, dtype=np.int64),
                      "x1": cx - r, "y1": cy - r, "x2": cx + r, "y2": cy - r,
                      "x3": cx, "y3": cy + r,
                      "xmin": cx - r, "ymin": cy - r, "xmax": cx + r, "ymax": cy + r})
    # clustered unit-ish embeddings; probes are perturbed corpus rows
    v, vp, d = size["vectors"], size["vec_probes"], 64
    centres = rng.normal(0, 1, (16, d))
    vecs = centres[rng.integers(0, 16, v)] + rng.normal(0, 0.35, (v, d))
    pvecs = vecs[rng.choice(v, vp, replace=False)] + rng.normal(0, 0.1, (vp, d))
    vec_t = pa.table({"vec_id": np.arange(v, dtype=np.int64),
                      "embedding": pa.array(list(vecs), pa.list_(pa.float64()))})
    vprobe_t = pa.table({"qid": np.arange(vp, dtype=np.int64),
                         "embedding": pa.array(list(pvecs), pa.list_(pa.float64()))})
    kp = size["knn_probes"]
    px, py = rng.random(kp) * 100, rng.random(kp) * 100
    pts_t = pa.table({"qid": np.arange(kp, dtype=np.int64), "x": px, "y": py})
    tables = {"tiles.parquet": tiles, "zones.parquet": zones, "vectors.parquet": vec_t,
              "vec_probes.parquet": vprobe_t, "points.parquet": pts_t}
    _write(out, tables)

    # kNN oracle: k nearest footprint centroids, ties by id (engine convention)
    tb = np.column_stack([x0, y0, x0 + ws * 0.125, y0 + hs * 0.125])
    ccx, ccy = (tb[:, 0] + tb[:, 2]) / 2, (tb[:, 1] + tb[:, 3]) / 2
    kq, ki, kr = [], [], []
    for lo in range(0, kp, 256):
        d2 = (ccx[None, :] - px[lo:lo + 256, None]) ** 2 + (ccy[None, :] - py[lo:lo + 256, None]) ** 2
        for row in range(d2.shape[0]):
            order = np.lexsort((ids, d2[row]))[:KNN_K]
            kq += [lo + row] * len(order)
            ki += list(ids[order])
            kr += list(range(1, len(order) + 1))
    con = _duck()
    con.execute(f"CREATE TABLE tiles AS SELECT id, w, h, fmt, xmin, ymin, xmax, ymax "
                f"FROM '{out}/tiles.parquet'")
    con.execute(f"CREATE TABLE zones AS SELECT * FROM '{out}/zones.parquet'")
    zonal = con.execute(ZONAL_ORACLE_SQL).fetchone()
    con.close()
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = (pvecs / np.linalg.norm(pvecs, axis=1, keepdims=True)) @ vn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :5 * ANN_K]
    oracle = {
        "knn": pair_digest_np(kq, ki, kr),
        "zonal": [int(x or 0) for x in zonal],
        "dedup_pairs": sorted([a, b, i, u] for (a, b), (i, u)
                              in jaccard_pairs(texts, ids, DEDUP_THRESHOLD).items()),
        # per probe: the 5k nearest vectors by exact cosine, best first
        "ann_top": [[[int(j), float(sims[q, j])] for j in top[q]] for q in range(vp)],
    }
    props = {"dedup.near_dup_share": dup_share}
    return {"oracle": oracle, "props": props}


# Zonal oracle, the recipe of the repository's zonal_stats DuckDB twin: the
# decoded pixel values are recomputed from the tile id (lossy drops them to
# even), pixel centres and the inclusive half-plane test use the engine's
# expression shapes, so doubles match bit for bit.
ZONAL_ORACLE_SQL = f"""
WITH cand AS (
  SELECT t.*, z.poly_id, z.x1, z.y1, z.x2, z.y2, z.x3, z.y3
  FROM tiles t JOIN zones z
    ON t.xmin <= z.xmax AND z.xmin <= t.xmax AND t.ymin <= z.ymax AND z.ymin <= t.ymax),
pr AS (SELECT *, unnest(range(h)) AS r2 FROM cand),
pc AS (SELECT *, unnest(range(w)) AS c2 FROM pr),
px AS (
  SELECT poly_id, x1, y1, x2, y2, x3, y3, fmt = 'lossy' AS lossy,
    xmin + (c2 + 0.5e0) * ((xmax - xmin) / w) AS pxc,
    ymin + (r2 + 0.5e0) * ((ymax - ymin) / h) AS pyc,
    (id*31 + r2*7 + c2*13) % 256 AS w0,
    (id*31 + r2*7 + c2*13 + 101) % 256 AS w1,
    (id*31 + r2*7 + c2*13 + 202) % 256 AS w2
  FROM pc),
inside AS (
  SELECT poly_id,
    CASE WHEN lossy THEN w0 - w0 % 2 ELSE w0 END AS v0,
    CASE WHEN lossy THEN w1 - w1 % 2 ELSE w1 END AS v1,
    CASE WHEN lossy THEN w2 - w2 % 2 ELSE w2 END AS v2
  FROM px
  WHERE (x2 - x1) * (pyc - y1) - (y2 - y1) * (pxc - x1) >= 0
    AND (x3 - x2) * (pyc - y2) - (y3 - y2) * (pxc - x2) >= 0
    AND (x1 - x3) * (pyc - y3) - (y1 - y3) * (pxc - x3) >= 0),
z AS (
  SELECT poly_id, COUNT(*) AS n_px, SUM(v0 + v1 + v2) AS sum_val,
    MIN(LEAST(v0, v1, v2)) AS min_val, MAX(GREATEST(v0, v1, v2)) AS max_val
  FROM inside GROUP BY poly_id)
SELECT {', '.join(pair_digest_sql('poly_id', 'n_px', 'sum_val * 7 + min_val * 7919 + max_val * 104729'))}
FROM z
"""


def _write(out: str, tables: dict) -> None:
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}")


def _gen_uniform_persist(rng, size, out: str) -> dict:
    meta, ids, data = _gen_join(rng, size, False, out)
    extra = _gen_persist(rng, size, out, ids, data)
    return {"oracle": {**meta["oracle"], **extra["oracle"]},
            "props": {**meta["props"], **extra["props"]}}


def _gen_skewed_image(rng, size, out: str) -> dict:
    meta, _, _ = _gen_join(rng, size, True, out)
    extra = _gen_image(rng, size, out)
    return {"oracle": {**meta["oracle"], **extra["oracle"]},
            "props": {**meta["props"], **extra["props"]}}


GENERATORS = {
    "uniform_persist": _gen_uniform_persist,
    "skewed_image": _gen_skewed_image,
}


def ensure_inputs(root: str, workload: str, seed: int, size_name: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one workload and seed → (dir, meta)."""
    # the directory name carries a hash of the sizes, so changed sizes never
    # reuse stale inputs
    tag = zlib.crc32(json.dumps([SIZES[size_name], SALT_THRESHOLD, PERSIST_LEVEL, MUTATE_BLOCK]).encode())
    out = os.path.join(root, "inputs", f"{workload}-{size_name}-s{seed}-{tag:08x}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per (workload, seed): workloads never share draws
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    meta = GENERATORS[workload](rng, SIZES[size_name], tmp)
    meta["seed"] = seed
    meta["size"] = size_name
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta


if __name__ == "__main__":
    # python3 -m perfbench.inputs <work dir> <workload> <seed> <size>
    ensure_inputs(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
