"""The two workloads: each is an ordered list of ops over one seed's inputs.

An op has two phases, timed apart:

* ``plan`` calls the engine's public entry point. It returns a lazy
  DataFrame, or finishes the work itself when the call is eager (save,
  mutate, refresh), including any pre-jobs the call starts;
* ``run`` consumes the result with one action: a digest aggregate for large
  results, a collect for small ones.

``check`` then compares the result with the oracle, outside the timed region.
Every op reads its inputs fresh from parquet; nothing is cached between
iterations.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from python_prtree_spark import (
    EngineConfig, Extent, PRTreeTable, batch_query, build_index, knn_join,
    load_index, query_intersections, save_index, zonal_stats,
)
from python_prtree_spark.operators.ann import ivf_topk
from python_prtree_spark.operators.dedup import minhash_lsh_pairs

from perfbench import inputs as I

JOIN_CFG = EngineConfig(extent=Extent(*I.EXTENT), level=I.LEVEL, strategy="packed",
                        salt_threshold=I.SALT_THRESHOLD)
# save_index with level=None fails on this engine (see NOTES.md), so the
# persisted workload pins the level as well
PERSIST_CFG = EngineConfig(extent=Extent(*I.EXTENT), level=I.PERSIST_LEVEL)
IMAGE_CFG = EngineConfig(extent=Extent(*I.EXTENT), level=4)


def _digest(df, a: str, b: str, c: str | None = None) -> list[int]:
    row = df.selectExpr(*I.pair_digest_sql(a, b, c)).collect()[0]
    return [int(v or 0) for v in row]


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Op:
    """One engine call of a workload. ``needs_prev``: the op works on the
    previous op's result, so it is skipped (and failed) when that failed."""

    def __init__(self, name, plan, run, check, needs_prev=False):
        self.name, self.plan, self.run, self.check = name, plan, run, check
        self.needs_prev = needs_prev


class Workload:
    """Inputs of one seed, opened on one Spark session."""

    def __init__(self, spark, in_dir: str, meta: dict, work_dir: str):
        """Open the parquet inputs in ``in_dir``, reading each schema once."""
        import pyarrow.parquet as pq

        self.spark = spark
        self.oracle = meta["oracle"]
        self.work_dir = work_dir
        self.pins: dict = {}
        self.digests: dict = {}
        self.files: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        for name in sorted(os.listdir(in_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(in_dir, name)
                spark.read.parquet(path).schema
                self.files[name[:-8]] = path
                self.rows[name[:-8]] = pq.ParquetFile(path).metadata.num_rows

    def read(self, name: str):
        return self.spark.read.parquet(self.files[name])

    def expect(self, key: str, got) -> bool:
        return got == self.oracle[key]

    def begin_iteration(self, tag: str) -> None:
        pass

    def end_iteration(self) -> None:
        pass


class JoinOps:
    """build, join and self_join on the workload's boxes (packed path)."""

    def join_ops(self):
        n = lambda: self.rows["data"]  # noqa: E731
        return [
            Op("build",
               lambda: build_index(self.read("data"), JOIN_CFG, n_data_hint=n())[0],
               lambda idx: [int(v or 0) for v in idx.selectExpr(
                   "sum(n_rows)",
                   f"sum(aggregate(ids, 0L, (s, x) -> s + (x * 1000003 + cell) % {I.P1}))",
                   f"sum(aggregate(ids, 0L, (s, x) -> s + (x + cell * 999983) % {I.P2}))",
                   "count(*)",
               ).collect()[0]],
               lambda got: (self.expect("build", got[:3]), got[3])),
            Op("join",
               lambda: batch_query(self.read("data"), self.read("probes"), JOIN_CFG,
                                   n_data_hint=n()),
               lambda df: _digest(df, "qid", "id"),
               lambda got: (self.expect("join", got), got[0])),
            Op("self_join",
               lambda: query_intersections(self.read("data"), JOIN_CFG, n_data_hint=n()),
               lambda df: _digest(df, "id_a", "id_b"),
               lambda got: (self.expect("self_join", got), got[0])),
        ]


class PersistOps:
    """save → loaded_query → mutate → refresh → loaded_query over the same
    boxes, on a fresh index directory each iteration."""

    def begin_iteration(self, tag: str) -> None:
        self.path = os.path.join(self.work_dir, f"index-{tag}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.table = None
        self.store = {}

    def end_iteration(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def _live_rows(self) -> int:
        with open(os.path.join(self.path, "_engine_meta.json")) as f:
            return int(json.load(f)["n_live_rows"])

    def _live_after(self) -> int:
        return self.rows["data"] + self.rows["insert"] - self.rows["erase"]

    def _check_save(self) -> tuple[bool, int]:
        self._saved = _dir_bytes(self.path)
        return self._live_rows() == self.rows["data"], self._live_rows()

    def _mutate(self):
        t = PRTreeTable.from_index(self.spark, self.path)
        self.table = t.insert(self.read("insert")).erase(self.read("erase"))
        return self.table

    def _check_refresh(self) -> tuple[bool, int]:
        after = _dir_bytes(self.path)
        saved = self._saved
        data = lambda d: {p: s for p, s in d.items() if p.endswith(".parquet")}  # noqa: E731
        fresh = sum(s for p, s in data(after).items() if p not in saved)
        self.store.update(
            write_mb=sum(saved.values()) / 1e6,
            refresh_rewrite_share=fresh / max(1, sum(data(saved).values())),
            bytes_per_box=sum(after.values()) / self._live_rows(),
        )
        return self._live_rows() == self._live_after(), self._live_rows()

    def persist_ops(self):
        query = lambda: load_index(self.spark, self.path).batch_query(  # noqa: E731
            self.read("lq_probes"))
        return [
            Op("save", lambda: save_index(self.read("data"), self.path, PERSIST_CFG), None,
               lambda _: self._check_save()),
            Op("loaded_query", query, lambda df: _digest(df, "qid", "id"),
               lambda got: (self.expect("loaded_query", got), got[0]), needs_prev=True),
            Op("mutate", self._mutate, None,
               lambda t: (t.size() == self._live_after(), t.size()), needs_prev=True),
            Op("refresh", lambda: self.table.refresh_index(self.path), None,
               lambda _: self._check_refresh(), needs_prev=True),
            Op("loaded_query", query, lambda df: _digest(df, "qid", "id"),
               lambda got: (self.expect("loaded_query_after", got), got[0]), needs_prev=True),
        ]


class ImageOps:
    """knn, zonal, dedup and ann over one image/caption/embedding table."""

    def _zones(self):
        z = self.read("zones")
        return z.select(
            "poly_id",
            F.array(*[F.struct(F.col(f"x{i}").alias("x"), F.col(f"y{i}").alias("y"))
                      for i in (1, 2, 3)]).alias("ring"),
            "xmin", "ymin", "xmax", "ymax")

    def _check_dedup(self, rows) -> tuple[bool, int]:
        """Every pair is a true pair with its exact token counts; recall over
        the pairs with Jaccard >= 0.9 is at least 0.95."""
        got = sorted((r["id_a"], r["id_b"], r["n_inter"], r["n_union"]) for r in rows)
        truth = {(a, b): (i, u) for a, b, i, u in self.oracle["dedup_pairs"]}
        found = {(a, b) for a, b, _, _ in got}
        exact = len(found) == len(got) and all(truth.get((a, b)) == (i, u)
                                               for a, b, i, u in got)
        strong = [k for k, (i, u) in truth.items() if i / u >= 0.9]
        recall = sum(k in found for k in strong) / max(1, len(strong))
        digest = I.pair_digest_np([g[0] for g in got], [g[1] for g in got], [g[2] for g in got])
        return exact and recall >= 0.95 and self._pinned("dedup", digest), len(got)

    def _check_ann(self, rows) -> tuple[bool, int]:
        """Per probe: ranks 1..k, cosines sorted and exact to 1e-9; recall@k
        against the exact top k is at least 0.9."""
        got = sorted((r["qid"], r["rank"], r["vec_id"], r["cosine"]) for r in rows)
        top = self.oracle["ann_top"]
        by_q: dict[int, list] = {}
        for q, rank, vid, cos in got:
            by_q.setdefault(q, []).append((rank, vid, cos))
        ok, hits = len(by_q) == len(top), 0
        for q, lst in by_q.items():
            exact = dict(top[q])
            coss = [c for _, _, c in lst]
            ok &= [r for r, _, _ in lst] == list(range(1, I.ANN_K + 1))
            ok &= all(a >= b - 1e-12 for a, b in zip(coss, coss[1:]))
            ok &= all(abs(exact[v] - c) <= 1e-9 for _, v, c in lst if v in exact)
            hits += len({v for _, v, _ in lst} & {j for j, _ in top[q][:I.ANN_K]})
        recall = hits / (len(top) * I.ANN_K)
        digest = I.pair_digest_np([g[0] for g in got], [g[2] for g in got], [g[1] for g in got])
        return ok and recall >= 0.9 and self._pinned("ann", digest), len(got)

    def _pinned(self, op: str, digest: list[int]) -> bool:
        """Approximate ops must also match the digest pinned for this seed."""
        self.digests[op] = digest
        pin = self.pins.get(op)
        return pin is None or pin == digest

    def image_ops(self):
        tiles = lambda: self.read("tiles")  # noqa: E731
        return [
            Op("knn",
               lambda: knn_join(tiles().select("id", "xmin", "ymin", "xmax", "ymax"),
                                self.read("points"), I.KNN_K, IMAGE_CFG),
               lambda df: _digest(df, "qid", "id", "rank"),
               lambda got: (self.expect("knn", got), got[0])),
            Op("zonal",
               lambda: zonal_stats(tiles().select("image_id", "bytes", "xmin", "ymin",
                                                  "xmax", "ymax"),
                                   self._zones(), IMAGE_CFG),
               lambda df: _digest(df, "poly_id", "n_px",
                                  "sum_val * 7 + min_val * 7919 + max_val * 104729"),
               lambda got: (self.expect("zonal", got), got[0])),
            Op("dedup",
               lambda: minhash_lsh_pairs(
                   tiles().select(F.col("id").alias("doc_id"), F.col("caption").alias("text")),
                   I.DEDUP_THRESHOLD, bands=16),
               lambda df: df.collect(),
               self._check_dedup),
            Op("ann",
               lambda: ivf_topk(self.read("vectors"), self.read("vec_probes"), I.ANN_K,
                                n_centroids=16, n_probe=4),
               lambda df: df.collect(),
               self._check_ann),
        ]


class UniformPersist(JoinOps, PersistOps, Workload):
    """Uniform boxes: join and self_join (no cell is hot), then the
    persisted-index ops, the only ones that write. ``save`` runs the same
    SQL pack as ``build``, so ``build`` itself runs on the skewed boxes only."""

    def ops(self):
        return [op for op in self.join_ops() if op.name != "build"] + self.persist_ops()


class SkewedImage(JoinOps, ImageOps, Workload):
    """Skewed boxes: the join ops (hot cells get salted), then the image,
    caption and embedding ops, whose time goes mostly to the Python/Arrow
    boundary."""

    def ops(self):
        return self.join_ops() + self.image_ops()


WORKLOADS = {"uniform_persist": UniformPersist, "skewed_image": SkewedImage}

# every op name any workload runs, in report order
OP_NAMES = ["build", "join", "self_join", "save", "loaded_query", "mutate", "refresh",
            "knn", "zonal", "dedup", "ann"]


def strpack_probe(in_dir: str, reps: int = 15) -> tuple[float, float]:
    """Driver-side STRPack build and query on one cell's worth of boxes: the
    most populated level-5 cell, capped at the salt threshold (the largest
    pack one task builds). → (µs per box built, µs per probe answered)."""
    import time

    import pyarrow.parquet as pq

    from python_prtree_spark.operators.strpack import STRPack

    t = pq.read_table(f"{in_dir}/data.parquet", columns=["id", "xmin", "ymin", "xmax", "ymax"])
    ids = t["id"].to_numpy()
    boxes = np.column_stack([t[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")])
    e_ids, cells = I.explode_cells(np.arange(len(ids)), boxes)
    top = np.bincount(cells).argmax()
    rows = e_ids[cells == top][: I.SALT_THRESHOLD]
    pack_ids, pack_boxes = ids[rows], boxes[rows]
    # probes: the same boxes grown by a fixed margin, so each finds neighbours
    qb = pack_boxes + np.array([-0.2, -0.2, 0.2, 0.2])
    builds, queries = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        pack = STRPack(pack_ids, pack_boxes)
        t1 = time.perf_counter()
        pack.query(qb)
        t2 = time.perf_counter()
        builds.append(t1 - t0)
        queries.append(t2 - t1)
    return (float(np.median(builds)) / len(rows) * 1e6,
            float(np.median(queries)) / len(rows) * 1e6)
