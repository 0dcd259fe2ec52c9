"""Distributed level-batched cover-tree build (SURVEY.md section 3.1/3.2).

Spark re-expression of the reference's two-phase construction
(``/root/reference/src/CoverTree.cpp:325-342`` sequential loop;
``src/DistCoverTree.cpp:85-130`` global/local phases):

- **Global phase** — each iteration is ONE Spark job: per-hub farthest-point
  aggregation (``_hub_argmax_np`` partials merged by ``_merge_partials``,
  with the reference's tie-break: strict ``>`` ⇒
  lowest point id, CoverTree.cpp:117 / the custom MPI argmax op
  DistCoverTree.cpp:175-208), a driver-side hub-chain decision (the reference
  runs this "identically and redundantly on all processors",
  DistCoverTree.cpp:362-366 — our driver IS that replicated state), and a
  state transform of broadcast joins (leaf deactivation, split re-homing,
  newest-chain-tail distance update — CoverTree.cpp:181-322).
- **Cutoff** — once active hubs ≥ ``hub_cutoff`` there is enough parallelism
  to finish each hub independently (the reference's load-imbalance ≤ 1.25
  cutoff, DistCoverTree.cpp:101-110,726-758).
- **Local phase** — one shuffle: ``repartition by hub`` + sort, checkpointed
  as ``members`` (each hub's points) — the reference's MPI_Alltoallv
  (DistCoverTree.cpp:823-905). Routed queries finish against ``members``
  (a JVM join on hub and grid cell, or a per-hub grid kernel when the
  corpus and the query set are both large), so the build runs no per-hub
  tree kernel. The
  reference's sequential per-hub trees (DistCoverTree.cpp:814-934) are
  ``local_trees(model)``: built on demand from ``members`` by the numpy
  cover-tree kernel, for debug dumps and tests. Their rows carry global
  point ids + coords, which eliminates the reference's local→global remap
  join (DistCoverTree.cpp:1134-1139) by schema design.

Checkpointed per ``checkpoint_every`` iterations (state parquet + driver JSON
+ lineage metrics), so builds resume mid-level — the north rule's
"resumable from checkpoint with per-partition lineage + metrics".
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelcovertree_spark.plans.local_tree import build_cover_tree_np

LEAF_VID_BASE = 1 << 40  # leaf vertex ids = base + point id (one leaf/point)

LOCAL_TREE_SCHEMA = (
    "hub_id long, lvertex_id long, point_id long, lparent_id long, "
    "level long, px float, py float, lmax_radius double"
)


@dataclass
class CoverTreeModel:
    base: float
    max_radius: float
    root_pid: int
    vertices: DataFrame            # (vertex_id, point_id, parent_id, level) top tree
    points: DataFrame              # (id, x, y)
    local_roots: list[int]         # hub vertex ids, one local tree each
    metrics: DataFrame             # per-iteration lineage/metrics
    num_global_iters: int
    has_global_leaves: bool = True  # any leaf vertices from the global phase?
    # (hub_id, point_id, px, py): each hub's UNIQUE member points, the local
    # phase's only output — checkpointed pre-hash-partitioned + pre-sorted on
    # hub_id, None if fully global. The routed query's stage-2 side (its
    # cogroup reads it with no exchange and no sort) and the input of
    # ``local_trees``.
    members: DataFrame | None = None
    n_members: int = 0  # row count of ``members``, known at build time


# --- executor-resident global phase -------------------------------------------
# The global phase is inherently iterative with a tiny per-round result (one
# argmax row per hub — the reference's custom MPI_Allreduce,
# DistCoverTree.cpp:175-208) over a LARGE resident state that each round
# mutates in place (leaf deactivation / split re-homing / chain-tail
# nearest-update). Re-expressing every round as a DataFrame transform pays an
# Arrow round-trip (or a per-row literal-map scan) over the full corpus per
# round; the reference instead keeps the state resident in rank memory across
# iterations (DistCoverTree.cpp:85-130). The Spark analog is a PERSISTED RDD
# of per-partition numpy blocks: one narrow job per round applies the pending
# ops and returns per-hub argmax partials — state never leaves the executors,
# nothing shuffles, and the collect is O(hubs) rows. This is the one operator
# in the engine where the RDD escape hatch is the honest design (imperative
# per-partition iteration); every query operator stays DataFrame-native.

_STATE_COLS = ("pid", "x", "y", "dist", "hub_vtx", "hub_pt", "leaf_parent")
_STATE_SCHEMA = (
    "pid long, x float, y float, dist double, hub_vtx long, hub_pt long, "
    "leaf_parent long"
)


def _df_to_blocks(state: DataFrame, tmp_dir: str):
    """state DF → persisted RDD[(None, block)] via a parquet bounce: each
    task reads exactly one partition file with pyarrow (no per-row Python).
    Files are deleted right after the blocks materialize.

    The block count sets the global phase's parallelism for the REST of the
    build (each round is one task per block), so a degenerate input
    partitioning (e.g. a broadcast-crossJoin pipeline that never shuffled —
    1 partition for 1M rows) is repaired here: widen to defaultParallelism.
    Many-partition inputs are left alone — at cluster scale partitions
    track data size."""
    import glob
    import shutil
    import uuid

    spark = state.sparkSession
    target = spark.sparkContext.defaultParallelism
    if state.rdd.getNumPartitions() < target:
        state = state.repartition(target)
    path = os.path.join(tmp_dir, f"covergrid-state-{uuid.uuid4().hex}")
    state.write.parquet(path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))

    def read_file(paths):
        import pyarrow.parquet as pq

        for p in paths:
            t = pq.read_table(p)
            blk = {
                "pid": t["pid"].to_numpy().astype(np.int64),
                "x": t["x"].to_numpy().astype(np.float32),
                "y": t["y"].to_numpy().astype(np.float32),
                "dist": t["dist"].to_numpy().astype(np.float64),
                "hub_vtx": t["hub_vtx"].to_numpy().astype(np.int64),
                "hub_pt": t["hub_pt"].to_numpy().astype(np.int64),
                "leaf_parent": t["leaf_parent"].to_numpy().astype(np.int64),
            }
            yield (None, blk)

    from pyspark import StorageLevel

    rdd = (
        spark.sparkContext.parallelize(files, max(1, len(files)))
        .mapPartitions(read_file)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # truncate lineage BEFORE deleting the bounce files: on a real cluster a
    # lost cached partition would otherwise recompute by re-reading files
    # that no longer exist (same discipline as compaction)
    rdd.localCheckpoint()
    rdd.count()  # materialize before deleting the bounce files
    shutil.rmtree(path, ignore_errors=True)
    return rdd


def _apply_ops_np(blk: dict, ops: dict, inplace: bool = False,
                  xy64: tuple | None = None) -> dict:
    """One reference round on a numpy block, same op order as the reference
    iteration: leaf deactivation → split re-homing → chain-tail
    nearest-update (CoverTree.cpp:181-322). Distances: float32 storage,
    float64 math, explicit products (bit-stable, Point.cpp:27-38).

    ``inplace`` mutates the block's arrays (driver path — the block is
    owned); the block path MUST keep the default copy semantics, its base
    blocks are persisted RDD state that the op log replays over.
    ``xy64`` supplies pre-widened coordinate arrays (identical values to the
    per-call astype; the driver path caches them across rounds)."""
    if inplace:
        hub = blk["hub_vtx"]
        hub_pt = blk["hub_pt"]
        dist = blk["dist"]
        leaf_parent = blk["leaf_parent"]
    else:
        hub = blk["hub_vtx"].copy()
        hub_pt = blk["hub_pt"].copy()
        dist = blk["dist"].copy()
        leaf_parent = blk["leaf_parent"].copy()
    if xy64 is not None:
        x, y = xy64
    else:
        x = blk["x"].astype(np.float64)
        y = blk["y"].astype(np.float64)
    if len(ops["leaves"]):
        m = np.isin(hub, ops["leaves"])
        leaf_parent[m] = hub[m]
        dist[m] = 0.0
        hub[m] = -1
        hub_pt[m] = -1
    if len(ops["split_hubs"]):
        m = np.isin(hub, ops["split_hubs"])
        if m.any():
            sp = ops["split_pids"]
            idx = np.minimum(np.searchsorted(sp, hub_pt[m]), len(sp) - 1)
            if not np.array_equal(sp[idx], hub_pt[m]):
                raise AssertionError("split re-home: hub_pt not a chain member")
            hub[m] = ops["split_vids"][idx]
    if len(ops["tail_hubs"]):
        th = ops["tail_hubs"]
        pos = np.minimum(np.searchsorted(th, hub), len(th) - 1)
        has = (hub >= 0) & (th[pos] == hub)
        dx = x - ops["tail_x"][pos]
        dy = y - ops["tail_y"][pos]
        dc = np.sqrt(dx * dx + dy * dy)
        upd = has & (dc <= dist)
        dist[upd] = dc[upd]
        hub_pt[upd] = ops["tail_pids"][pos][upd]
    return {
        "pid": blk["pid"], "x": blk["x"], "y": blk["y"], "dist": dist,
        "hub_vtx": hub, "hub_pt": hub_pt, "leaf_parent": leaf_parent,
    }


def _hub_grouping(blk: dict):
    """Group the active rows by hub: (row_idx sorted by hub, hub per group,
    group starts). Hub assignment changes ONLY on split/leaf rounds, so the
    driver path caches this across the (majority) extend-only rounds."""
    act = np.nonzero(blk["hub_vtx"] >= 0)[0]
    hub = blk["hub_vtx"][act]
    order = np.argsort(hub, kind="stable")
    idx = act[order]
    hub_s = hub[order]
    starts = np.flatnonzero(np.r_[True, hub_s[1:] != hub_s[:-1]]) if len(hub_s) else np.empty(0, np.int64)
    return idx, hub_s[starts], starts


def _hub_argmax_np(blk: dict, grouping=None):
    """Per-hub (farthest dist, lowest-pid tie-break) + active count for this
    block — the map-side partial of the reference's custom argmax reduction
    (strict > ⇒ lowest point id, CoverTree.cpp:117). Sort-free when a cached
    ``grouping`` is supplied: two reduceat passes over grouped rows."""
    if grouping is None:
        grouping = _hub_grouping(blk)
    idx, hubs, starts = grouping
    if not len(idx):
        return []
    d = blk["dist"][idx]
    pid = blk["pid"][idx]
    sizes = np.diff(np.r_[starts, len(idx)])
    gmax = np.maximum.reduceat(d, starts)
    ismax = d == np.repeat(gmax, sizes)
    pid_m = np.where(ismax, pid, np.iinfo(np.int64).max)
    gpid = np.minimum.reduceat(pid_m, starts)
    sel = ismax & (pid == np.repeat(gpid, sizes))
    rows = idx[sel]  # exactly one per group (pids unique), group-ordered
    return list(zip(
        hubs.tolist(), blk["pid"][rows].tolist(),
        blk["x"][rows].astype(np.float64).tolist(),
        blk["y"][rows].astype(np.float64).tolist(),
        blk["dist"][rows].tolist(), sizes.tolist(),
    ))


def _morton(cx: int, cy: int, bits: int = 21) -> int:
    """Interleave two (offset-shifted) cell coords — drives the Z-order cell
    packing of the hot-hub sub-split so groups stay spatially compact."""
    x = (cx + (1 << (bits - 1))) & ((1 << bits) - 1)
    y = (cy + (1 << (bits - 1))) & ((1 << bits) - 1)
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i + 1) | ((y >> i) & 1) << (2 * i)
    return out


def _sorted_ops(ops: dict) -> dict:
    """Sort op arrays for the kernel's searchsorted lookups."""
    leaves = np.sort(np.asarray(ops["leaves"], dtype=np.int64))
    sp = np.asarray(ops["split_pids"], dtype=np.int64)
    sv = np.asarray(ops["split_vids"], dtype=np.int64)
    so = np.argsort(sp)
    th = np.asarray(ops["tail_hubs"], dtype=np.int64)
    to = np.argsort(th)
    return {
        "leaves": leaves,
        "split_hubs": np.sort(np.asarray(ops["split_hubs"], dtype=np.int64)),
        "split_pids": sp[so],
        "split_vids": sv[so],
        "tail_hubs": th[to],
        "tail_pids": np.asarray(ops["tail_pids"], dtype=np.int64)[to],
        "tail_x": np.asarray(ops["tail_x"], dtype=np.float64)[to],
        "tail_y": np.asarray(ops["tail_y"], dtype=np.float64)[to],
    }


class _BlockRounds:
    """Executor-resident round driver with an OP LOG.

    A round must apply the previous round's ops and return the fresh per-hub
    argmax — but it does NOT need to write the applied state anywhere: ops
    are tiny (O(hubs) rows) and their application is vectorized, so each
    round's job re-reads the persisted BASE blocks and replays the broadcast
    op log up to the current round. That halves the per-round serialization
    (no Python→JVM block write-back, no re-persist) — the dominant cost at
    1M rows. Every ``compact_every`` rounds the replayed state is persisted
    as the new base and the log cleared, bounding replay cost; this mirrors
    the reference's in-place rank state (DistCoverTree.cpp:85-130) with
    checkpoint-interval durability."""

    def __init__(self, sc, blocks, compact_every: int = 24):
        self.sc = sc
        self.base = blocks          # persisted RDD[(None, blk)]
        self._tuple_rdd = None      # persisted (partials, blk) backing base
        # op log: plain _sorted_ops dicts. Each entry is O(active hubs) int64
        # rows, so the whole log is ~100KB — shipped inside the job closure
        # (serialized once per job), no broadcast lifecycle to manage.
        self.log: list = []
        self.compact_every = compact_every

    def round(self, new_ops: dict | None):
        """ONE Spark job: replay log (+ new_ops) over base, return merged
        (far, counts). Compacts (persists the applied state as the new base)
        only when the log is long — replay of tiny vectorized ops is cheaper
        than re-serializing the full state every round."""
        from pyspark import StorageLevel

        if new_ops is not None:
            self.log.append(_sorted_ops(new_ops))
        log = list(self.log)

        if len(log) >= self.compact_every:
            def f(it_blocks):
                for _p, blk in it_blocks:
                    for ops in log:
                        blk = _apply_ops_np(blk, ops)
                    yield (_hub_argmax_np(blk), blk)

            new = self.base.mapPartitions(f, preservesPartitioning=True).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            new.localCheckpoint()  # bound lineage depth across compactions
            partials = new.map(lambda t: t[0]).collect()
            self._unpersist()
            self._tuple_rdd = new
            self.base = new.map(lambda t: (None, t[1]))
            self.log = []
        else:
            def g(it_blocks):
                for _p, blk in it_blocks:
                    for ops in log:
                        blk = _apply_ops_np(blk, ops)
                    yield _hub_argmax_np(blk)

            partials = self.base.mapPartitions(g, preservesPartitioning=True).collect()

        return _merge_partials(partials)

    def push_ops(self, sorted_ops: dict) -> None:
        self.log.append(sorted_ops)

    def write_applied(self, path: str) -> dict[int, int]:
        """ONE job: replay the log over base and land the applied state as
        parquet part files (no intermediate compaction pass, no write-back
        serialization). Returns the per-hub ACTIVE counts of the written
        state (rides along free — they feed the hot-hub balance step). The
        log is kept — base is unchanged, so a build that continues after a
        mid-loop checkpoint keeps replaying correctly."""
        log = list(self.log)
        os.makedirs(path, exist_ok=True)

        def w(split, it_blocks):
            import pyarrow as pa
            import pyarrow.parquet as pq

            for _p, blk in it_blocks:
                for ops in log:
                    blk = _apply_ops_np(blk, ops)
                t = pa.table({c: blk[c] for c in _STATE_COLS})
                pq.write_table(t, os.path.join(path, f"part-{split:05d}.parquet"))
                act = blk["hub_vtx"][blk["hub_vtx"] >= 0]
                hubs, cnts = np.unique(act, return_counts=True)
                yield list(zip(hubs.tolist(), cnts.tolist()))

        counts: dict[int, int] = {}
        for part in self.base.mapPartitionsWithIndex(w).collect():
            for h, c in part:
                counts[h] = counts.get(h, 0) + c
        return counts

    @property
    def n_partitions(self) -> int:
        return self.base.getNumPartitions()

    def _unpersist(self):
        if self._tuple_rdd is not None:
            self._tuple_rdd.unpersist()
            self._tuple_rdd = None
        else:
            self.base.unpersist()

    def release(self):
        self._unpersist()
        self.log = []


def _merge_partials(partials) -> tuple[dict, dict]:
    """Merge per-block argmax partials with the reference argmax semantics:
    strict > on dist, tie → lowest pid (CoverTree.cpp:117)."""
    far: dict[int, tuple] = {}
    counts: dict[int, int] = {}
    for part in partials:
        for h, pid, px, py, d, cnt in part:
            counts[h] = counts.get(h, 0) + cnt
            cur = far.get(h)
            if cur is None or d > cur[3] or (d == cur[3] and pid < cur[0]):
                far[h] = (pid, px, py, d)
    return far, counts


class _DriverRounds:
    """Driver-resident global phase for states under the size threshold —
    the broadcast-join analog of keeping a small side local. The state
    (7 numpy columns) lives in driver memory; every round is pure numpy
    (NO Spark job), using the SAME _apply_ops_np / _hub_argmax_np kernels
    as the distributed _BlockRounds, so the two paths are bit-identical
    (pinned by test_covertree's driver-vs-block equivalence test). The
    reference's rank state (DistCoverTree.cpp:85-130) degenerates to this
    exactly when nprocs=1.

    The per-round kernels run THREAD-PARALLEL over contiguous slice views
    of the state arrays (numpy releases the GIL in the dominant ops:
    searchsorted / ufuncs / argsort). Per-row work is elementwise and the
    per-chunk argmax partials merge through the same order-independent
    ``_merge_partials`` reduction the multi-partition block path already
    uses, so any chunking yields identical results (measured: the 1M-row
    tail update + regroup were ~1.1 s of the 1.35 s round total,
    single-threaded)."""

    def __init__(self, blk: dict, n_threads: int | None = None):
        self.blk = blk
        n = len(blk["pid"])
        if n_threads is None:
            n_threads = int(os.environ.get("COVERGRID_DRIVER_THREADS", "8"))
        # ≥128k rows per chunk: below that, thread dispatch beats the win
        k = max(1, min(int(n_threads), n // 131072)) if n else 1
        bounds = np.linspace(0, n, k + 1, dtype=np.int64)
        # slice views alias self.blk: in-place op application on a view IS
        # application on the full array, so blk stays the single source of
        # truth for hub_balance / write_applied downstream
        self._views = [
            {c: blk[c][lo:hi] for c in _STATE_COLS}
            for lo, hi in zip(bounds[:-1], bounds[1:])
        ]
        # widen coords once per chunk — every round's tail-update reads them
        self._xy64 = [
            (v["x"].astype(np.float64), v["y"].astype(np.float64))
            for v in self._views
        ]
        # cached per-chunk hub grouping (valid across extend rounds)
        self._grps: list = [None] * k
        if k > 1:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(max_workers=k)
        else:
            self._pool = None

    def _map(self, fn):
        if self._pool is None:
            return [fn(i) for i in range(len(self._views))]
        return list(self._pool.map(fn, range(len(self._views))))

    def round(self, new_ops: dict | None):
        if new_ops is not None:
            self.push_ops(_sorted_ops(new_ops))

        def g(i):
            if self._grps[i] is None:
                self._grps[i] = _hub_grouping(self._views[i])
            return _hub_argmax_np(self._views[i], self._grps[i])

        return _merge_partials(self._map(g))

    def push_ops(self, sorted_ops: dict) -> None:
        # in place: the driver owns its block (no persisted RDD aliasing)
        def a(i):
            _apply_ops_np(self._views[i], sorted_ops, inplace=True,
                          xy64=self._xy64[i])

        self._map(a)
        if len(sorted_ops["leaves"]) or len(sorted_ops["split_hubs"]):
            self._grps = [None] * len(self._views)  # hubs changed → regroup

    def write_applied(self, path: str) -> dict[int, int]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        os.makedirs(path, exist_ok=True)
        blk = self.blk
        n = len(blk["pid"])
        # several files so the downstream scan parallelizes
        chunks = max(1, min(32, (n + 131071) // 131072))
        bounds = np.linspace(0, n, chunks + 1, dtype=np.int64)

        def write_chunk(i: int) -> None:
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            t = pa.table({c: blk[c][lo:hi] for c in _STATE_COLS})
            pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))

        # pyarrow releases the GIL: thread-parallel writes instead of a
        # sequential driver loop (tmpfs-backed, so this is CPU-bound encode)
        with ThreadPoolExecutor(max_workers=min(8, chunks)) as pool:
            list(pool.map(write_chunk, range(chunks)))
        act = blk["hub_vtx"][blk["hub_vtx"] >= 0]
        hubs, cnts = np.unique(act, return_counts=True)
        return dict(zip(hubs.tolist(), cnts.tolist()))

    def max_dist(self) -> float:
        return float(self.blk["dist"].max()) if len(self.blk["dist"]) else 0.0

    @property
    def n_partitions(self) -> int:
        return 1

    def release(self):
        if self._pool is not None:
            self._pool.shutdown(wait=False)
            self._pool = None
        self.blk = None
        self._views = []
        self._grps = []
        self._xy64 = []


def _state_to_driver(state: DataFrame) -> dict:
    """Collect the state DF into the driver block layout (one Arrow pull)."""
    t = state.toArrow()
    return {
        "pid": t["pid"].to_numpy().astype(np.int64),
        "x": t["x"].to_numpy().astype(np.float32),
        "y": t["y"].to_numpy().astype(np.float32),
        "dist": t["dist"].to_numpy().astype(np.float64),
        "hub_vtx": t["hub_vtx"].to_numpy().astype(np.int64),
        "hub_pt": t["hub_pt"].to_numpy().astype(np.int64),
        "leaf_parent": t["leaf_parent"].to_numpy().astype(np.int64),
    }


def _points_to_driver(pts: DataFrame) -> tuple[dict, int, float, float]:
    """Collect (pid, x, y) and init the round-0 state driver-side: one Arrow
    pull of 3 columns instead of a root-row job + a 7-column state collect
    (the 3 dropped columns were constants, ~24 MB of zeros at 1M rows). The
    distance init is the numpy twin of the Spark expression it replaces —
    float32 storage widened to float64, explicit products, sqrt — so the
    result is bit-identical (pinned by the driver-vs-block equivalence test)."""
    t = pts.toArrow()
    pid = t["pid"].to_numpy().astype(np.int64)
    x = t["x"].to_numpy().astype(np.float32)
    y = t["y"].to_numpy().astype(np.float32)
    ridx = int(np.argmin(pid))
    root_pid = int(pid[ridx])
    rx, ry = float(x[ridx]), float(y[ridx])
    dx = x.astype(np.float64) - rx
    dy = y.astype(np.float64) - ry
    return {
        "pid": pid, "x": x, "y": y,
        "dist": np.sqrt(dx * dx + dy * dy),
        "hub_vtx": np.zeros(len(pid), dtype=np.int64),
        "hub_pt": np.full(len(pid), root_pid, dtype=np.int64),
        "leaf_parent": np.full(len(pid), -1, dtype=np.int64),
    }, root_pid, rx, ry


_TRACE = os.environ.get("COVERGRID_TRACE", "") != ""


def _trace(label: str, t0: float) -> None:
    if _TRACE:
        print(f"    [build:{label}] {time.time() - t0:.2f}s", flush=True)


def build_cover_tree(
    points: DataFrame,
    base: float = 2.0,
    hub_cutoff: int | None = 512,
    imbalance_target: float | None = 1.25,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    max_iters: int | None = None,
    driver_state_threshold: int = 4_000_000,
) -> CoverTreeModel:
    """Build the distributed cover tree over ``points(id, x, y)``.

    ``hub_cutoff=None`` forces a fully-global build (reference sequential
    semantics end-to-end; the imbalance cutoff is disabled too). Otherwise
    the global phase ends at the FIRST of: ``hub_cutoff`` active hubs, or
    hub load imbalance ``partitions · max_hub_load / total ≤
    imbalance_target`` — the reference's criterion
    (``nprocs*max/total <= 1.25``, src/DistCoverTree.cpp:746-748 /
    dist_build_graph.cpp:29), measured for free inside the per-iteration
    argmax job. Balanced hubs mean the per-hub ``members`` groups pack
    evenly, so waiting for more hubs only buys sequential global rounds.
    ``max_iters`` stops the global phase early (checkpoint testing); combined
    with ``resume=True`` the build continues from the last checkpoint.
    """
    spark = points.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = points.select(
        F.col("id").alias("pid").cast("long"),
        F.col("x").cast("float"),
        F.col("y").cast("float"),
    )

    it = 0
    metrics: list[dict] = []
    resumed = False

    if resume and checkpoint_dir and os.path.exists(f"{checkpoint_dir}/driver.json"):
        resumed = True
        from parallelcovertree_spark.sources.snapshots import SnapshotTable

        with open(f"{checkpoint_dir}/driver.json") as f:
            drv = json.load(f)
        it = drv["iter"]
        base = drv["base"]
        max_radius = drv["max_radius"]
        root_pid = drv["root_pid"]
        verts = [tuple(v) for v in drv["verts"]]
        vlevel = {int(k): v for k, v in drv["vlevel"].items()}
        chains = {int(k): v for k, v in drv["chains"].items()}
        coords = {int(k): tuple(v) for k, v in drv["coords"].items()}
        metrics = drv["metrics"]
        table = SnapshotTable(f"{checkpoint_dir}/state_snapshots")
        state = table.read(spark, snapshot_id=drv["snapshot_id"]).localCheckpoint(eager=True)

    # temp dir for the state parquet bounce (tmpfs when configured)
    try:
        tmp_dir = spark.conf.get("spark.local.dir") or "/tmp"
    except Exception:
        tmp_dir = "/tmp"
    sc = spark.sparkContext
    # path choice — the broadcast-threshold analog: a state under the
    # threshold (7 int64/float cols ≈ 50B/point → 4M ≈ 200MB) runs its
    # rounds driver-resident with zero per-round job latency; above it the
    # state stays executor-resident as persisted numpy blocks. Same kernels,
    # bit-identical output (equivalence test in test_covertree.py).
    n_pts = points.count() if driver_state_threshold else None
    use_driver = driver_state_threshold and n_pts <= driver_state_threshold
    t0 = time.time()
    if resumed:
        if use_driver:
            rounds: _DriverRounds | _BlockRounds = _DriverRounds(_state_to_driver(state))
            _trace("state->driver", t0)
        else:
            rounds = _BlockRounds(sc, _df_to_blocks(state, tmp_dir))
            _trace("df->blocks", t0)
    elif use_driver:
        # driver path init: ONE 3-column Arrow collect replaces the root-row
        # job + the Spark-side distance init + the 7-column state collect
        state = None  # materialized by the final flush below
        blk, root_pid, rx, ry = _points_to_driver(pts)
        rounds = _DriverRounds(blk)
        _trace("state->driver", t0)
        max_radius = rounds.max_dist()
        verts = [(0, root_pid, -1, 0)]
        vlevel = {0: 0}
        chains = {0: [root_pid]}
        coords = {root_pid: (rx, ry)}
    else:
        # --- initialize root hub (CoverTree.cpp:56-91) ---------------------
        root = pts.orderBy("pid").limit(1).collect()[0]
        root_pid = int(root.pid)
        rx, ry = float(root.x), float(root.y)
        dx0 = F.col("x").cast("double") - F.lit(rx)
        dy0 = F.col("y").cast("double") - F.lit(ry)
        # NOT checkpointed: the only materialization is the block bounce
        # below; max_radius comes from block partials (one cached-RDD job)
        state = pts.select(
            "pid", "x", "y",
            # explicit products (not pow): bit-identical to the numpy kernel
            F.sqrt(dx0 * dx0 + dy0 * dy0).alias("dist"),
            F.lit(0).cast("long").alias("hub_vtx"),
            F.lit(root_pid).cast("long").alias("hub_pt"),
            F.lit(-1).cast("long").alias("leaf_parent"),
        )
        verts = [(0, root_pid, -1, 0)]
        vlevel = {0: 0}
        chains = {0: [root_pid]}
        coords = {root_pid: (rx, ry)}
        rounds = _BlockRounds(sc, _df_to_blocks(state, tmp_dir))
        _trace("df->blocks", t0)
        t0 = time.time()
        max_radius = float(max(
            rounds.base.map(
                lambda t: float(t[1]["dist"].max()) if len(t[1]["dist"]) else float("-inf")
            ).max(),
            0.0,
        ))
        _trace("max_radius", t0)

    if max_radius == 0.0:
        # degenerate: all points coincide → every point is a leaf under root
        rounds.release()
        leafs = pts.select(
            (F.lit(LEAF_VID_BASE) + F.col("pid")).alias("vertex_id"),
            F.col("pid").alias("point_id"),
            F.lit(0).cast("long").alias("parent_id"),
            F.lit(1).cast("long").alias("level"),
        )
        top = _vertices_df(spark, verts).unionByName(leafs)
        return CoverTreeModel(
            base=base, max_radius=0.0, root_pid=root_pid, vertices=top,
            points=points, local_roots=[], metrics=_metrics_df(spark, metrics),
            num_global_iters=0, has_global_leaves=True,
        )

    pending: dict | None = None  # last round's decisions, applied lazily
    bounce_dirs: list[str] = []  # applied-state parquet dirs, removed at end

    final_counts: dict[int, int] = {}

    def _flush_state():
        """Apply pending + logged ops in one job, land the state as parquet,
        and point `state` at a LAZY read of it (consumers scan the files;
        no extra materialization pass)."""
        nonlocal pending, state, final_counts
        import uuid

        if pending is not None:
            rounds.push_ops(_sorted_ops(pending))
            pending = None
        path = os.path.join(tmp_dir, f"covergrid-flush-{uuid.uuid4().hex}")
        final_counts = rounds.write_applied(path)
        bounce_dirs.append(path)
        state = spark.read.parquet(path)

    while chains and (max_iters is None or it < max_iters):
        if hub_cutoff is not None and len(chains) >= hub_cutoff:
            break
        t0 = time.time()
        far, counts = rounds.round(pending)
        pending = None
        if not far:
            break  # no active rows left

        if hub_cutoff is not None and imbalance_target is not None and len(counts) > 1:
            mx = max(counts.values())
            tot = sum(counts.values())
            if n_parts * mx / tot <= imbalance_target:
                break  # balanced enough: finish every hub in the local phase
        it += 1

        # --- driver: update hub chains (CoverTree.cpp:133-179) -------------
        ops = {"leaves": [], "split_hubs": [], "split_pids": [], "split_vids": [],
               "tail_hubs": [], "tail_pids": [], "tail_x": [], "tail_y": []}
        n_ext = n_leaf = n_split_verts = 0
        for hub in sorted(far):
            fpid, fx, fy, fd = far[hub]
            fdn = fd / max_radius
            ball = base ** (-1.0 * vlevel[hub])
            if fdn == 0.0:
                ops["leaves"].append(hub)
                del chains[hub]
                n_leaf += 1
            elif fdn <= ball / base:
                for member in chains[hub]:
                    vid = len(verts)
                    verts.append((vid, member, hub, vlevel[hub] + 1))
                    vlevel[vid] = vlevel[hub] + 1
                    chains[vid] = [member]
                    mx_, my_ = coords[member]
                    ops["split_pids"].append(member)
                    ops["split_vids"].append(vid)
                    ops["tail_hubs"].append(vid)
                    ops["tail_pids"].append(member)
                    ops["tail_x"].append(mx_)
                    ops["tail_y"].append(my_)
                    n_split_verts += 1
                ops["split_hubs"].append(hub)
                del chains[hub]
            else:
                chains[hub].append(fpid)
                coords[fpid] = (fx, fy)
                ops["tail_hubs"].append(hub)
                ops["tail_pids"].append(fpid)
                ops["tail_x"].append(fx)
                ops["tail_y"].append(fy)
                n_ext += 1
        pending = ops

        metrics.append({
            "iter": it, "n_hubs": len(chains), "n_leaf_hubs": n_leaf,
            "n_split_verts": n_split_verts, "n_extended": n_ext,
            "duration_ms": int((time.time() - t0) * 1000),
            "n_partitions": rounds.n_partitions,
        })

        if checkpoint_dir and (it % checkpoint_every == 0 or not chains):
            _flush_state()
            _write_checkpoint(checkpoint_dir, state, it, base, max_radius,
                              root_pid, verts, vlevel, chains, coords, metrics)

    # --- hot-hub sub-split (load-balance the local phase) --------------------
    # A hub_cutoff break can leave one dense hub owning 10-15% of the corpus;
    # its single ``members`` group then gates the grouped (cogroup) stage 2
    # of every large routed query (and at cluster scale risks executor OOM);
    # the JVM stage-2 join keys on (hub, cell) and is not gated by it. The
    # reference's only lever is more global rounds (the imbalance criterion,
    # DistCoverTree.cpp:746-748); here oversized hubs are instead cracked in
    # ONE vectorized pass: members gridded at the hub's ball scale, cells
    # Morton-packed into ≤max_pts groups on the driver, each group registered
    # as a child vertex of the hub and becoming its own hub in ``members``.
    # Query routing stays EXACT because it uses each local root's member
    # bounding box (plans/query.py _hub_boxes), not the level ball — same
    # discipline as the ε-join's hot-cell-only salting.
    #
    # Driver path: the histogram/remap runs in numpy over the resident state
    # BEFORE the flush (no Spark job; the flushed parquet already carries the
    # final hub assignment, so the local phase reads it with no remap joins).
    # Block path: the original DataFrame histogram + broadcast-join remap.

    def _pack_groups(by_hub: dict[int, list], max_pts: int) -> dict:
        """Morton-pack each fat hub's (cx, cy, n, mpid) cells into ≤max_pts
        groups; registers one child vertex per group. Returns the cell→vid
        remap {(hub, cx, cy): vid}. Shared by the driver and block paths —
        identical packing for identical histograms."""
        remap: dict[tuple[int, int, int], int] = {}
        for h, cl in sorted(by_hub.items()):
            # Morton order keeps packed groups spatially compact
            cl.sort(key=lambda t: _morton(t[0], t[1]))
            group: list[tuple] = []
            gn = 0

            def close_group():
                root = min(m for _, _, _, m in group)
                vid = len(verts)
                verts.append((vid, root, h, vlevel[h] + 1))
                vlevel[vid] = vlevel[h] + 1
                chains[vid] = [root]
                for gcx, gcy, _, _ in group:
                    remap[(h, gcx, gcy)] = vid

            for cx, cy, n, mpid in cl:
                if group and gn + n > max_pts:
                    close_group()
                    group, gn = [], 0
                group.append((cx, cy, n, mpid))
                gn += n
            if group:
                close_group()
            del chains[h]
        return remap

    def _fat_sizes(fat: dict[int, int], max_pts: int) -> list[tuple[int, float]]:
        # per-hub grid size: hub ball diameter / G, G² cells ≈ 16 groups
        sizes = []
        for h, c in fat.items():
            ball = max_radius * base ** (-1.0 * vlevel[h])
            g = max(int(math.ceil(4.0 * math.sqrt(c / max_pts))), 2)
            sizes.append((h, max(2.0 * ball / g, 1e-12)))
        return sizes

    if isinstance(rounds, _DriverRounds):
        # apply trailing ops so blk is final before balancing / flushing
        if pending is not None:
            rounds.push_ops(_sorted_ops(pending))
            pending = None
        blk = rounds.blk
        if chains and imbalance_target is not None:
            t0 = time.time()
            act = blk["hub_vtx"][blk["hub_vtx"] >= 0]
            hubs_u, cnts_u = np.unique(act, return_counts=True)
            final_counts = dict(zip(hubs_u.tolist(), cnts_u.tolist()))
            total_active = int(act.size) or 1
            max_pts = max(int(math.ceil(imbalance_target * total_active / n_parts)), 4096)
            fat = {h: c for h, c in final_counts.items() if c > max_pts}
            if fat:
                sizes = _fat_sizes(fat, max_pts)
                fat_hubs = np.array([h for h, _ in sizes], dtype=np.int64)
                fat_s = np.array([s for _, s in sizes], dtype=np.float64)
                fo = np.argsort(fat_hubs)
                fat_hubs, fat_s = fat_hubs[fo], fat_s[fo]
                hv = blk["hub_vtx"]
                pos = np.minimum(np.searchsorted(fat_hubs, hv), len(fat_hubs) - 1)
                isfat = (hv >= 0) & (fat_hubs[pos] == hv)
                rows = np.nonzero(isfat)[0]
                s_r = fat_s[pos[rows]]
                # same float path as the DF remap: float32 → double, / s
                cx = np.floor(blk["x"][rows].astype(np.float64) / s_r).astype(np.int64)
                cy = np.floor(blk["y"][rows].astype(np.float64) / s_r).astype(np.int64)
                h_r = hv[rows]
                order = np.lexsort((cy, cx, h_r))
                hs, cxs, cys = h_r[order], cx[order], cy[order]
                newseg = np.ones(len(hs), dtype=bool)
                newseg[1:] = (hs[1:] != hs[:-1]) | (cxs[1:] != cxs[:-1]) | (cys[1:] != cys[:-1])
                starts = np.nonzero(newseg)[0]
                seg_n = np.diff(np.concatenate([starts, [len(hs)]]))
                seg_mpid = np.minimum.reduceat(blk["pid"][rows][order], starts)
                by_hub: dict[int, list] = {}
                for h, cxx, cyy, n, mpid in zip(
                    hs[starts].tolist(), cxs[starts].tolist(), cys[starts].tolist(),
                    seg_n.tolist(), seg_mpid.tolist(),
                ):
                    by_hub.setdefault(h, []).append((cxx, cyy, n, mpid))
                remap = _pack_groups(by_hub, max_pts)
                cell_vid = np.array(
                    [remap[(h, cxx, cyy)] for h, cxx, cyy in zip(
                        hs[starts].tolist(), cxs[starts].tolist(), cys[starts].tolist())],
                    dtype=np.int64,
                )
                seg_id = np.cumsum(newseg) - 1
                hv[rows[order]] = cell_vid[seg_id]
            _trace("hub_balance", t0)
        has_leaves = bool((blk["leaf_parent"] >= 0).any())
        t0 = time.time()
        import uuid as _uuid

        path = os.path.join(tmp_dir, f"covergrid-flush-{_uuid.uuid4().hex}")
        final_counts = rounds.write_applied(path)
        bounce_dirs.append(path)
        state = spark.read.parquet(path)
        active_state = state
        rounds.release()
        _trace("flush", t0)
    else:
        t0 = time.time()
        _flush_state()  # trailing ops → final state DataFrame
        rounds.release()
        _trace("flush", t0)
        has_leaves = any(m["n_leaf_hubs"] > 0 for m in metrics)

        active_state = state
        if chains and imbalance_target is not None and final_counts:
            t0 = time.time()
            total_active = sum(final_counts.values()) or 1
            max_pts = max(int(math.ceil(imbalance_target * total_active / n_parts)), 4096)
            fat = {h: c for h, c in final_counts.items() if c > max_pts}
            if fat:
                sdf = spark.createDataFrame(_fat_sizes(fat, max_pts), "f_hub long, f_s double")
                cells = (
                    state.where(F.col("hub_vtx") >= 0)
                    .join(F.broadcast(sdf), F.col("hub_vtx") == F.col("f_hub"))
                    .select(
                        "hub_vtx",
                        F.floor(F.col("x").cast("double") / F.col("f_s")).alias("cx"),
                        F.floor(F.col("y").cast("double") / F.col("f_s")).alias("cy"),
                        "pid",
                    )
                    .groupBy("hub_vtx", "cx", "cy")
                    .agg(F.count(F.lit(1)).alias("n"), F.min("pid").alias("mpid"))
                    .collect()
                )
                by_hub = {}
                for r in cells:
                    by_hub.setdefault(int(r.hub_vtx), []).append(
                        (int(r.cx), int(r.cy), int(r.n), int(r.mpid))
                    )
                remap = _pack_groups(by_hub, max_pts)
                rm = spark.createDataFrame(
                    [(h, cx, cy, vid) for (h, cx, cy), vid in remap.items()],
                    "r_hub long, r_cx long, r_cy long, r_vid long",
                )
                # remap only the LOCAL-PHASE view; leaf assembly reads the raw
                # state (leaf rows are untouched by the sub-split)
                active_state = (
                    state.join(F.broadcast(sdf), F.col("hub_vtx") == F.col("f_hub"), "left")
                    .withColumn("cx", F.floor(F.col("x").cast("double") / F.col("f_s")))
                    .withColumn("cy", F.floor(F.col("y").cast("double") / F.col("f_s")))
                    .join(
                        F.broadcast(rm),
                        (F.col("hub_vtx") == F.col("r_hub"))
                        & (F.col("cx") == F.col("r_cx"))
                        & (F.col("cy") == F.col("r_cy")),
                        "left",
                    )
                    .select(
                        "pid", "x", "y", "dist",
                        F.coalesce("r_vid", "hub_vtx").alias("hub_vtx"),
                        "hub_pt", "leaf_parent",
                    )
                )
            _trace("hub_balance", t0)

    # --- local phase (DistCoverTree.cpp:823-905 analog) ---------------------
    # ONE checkpoint is the local phase: each hub's active points, shuffled
    # and sorted on the hub exactly once and materialized with AQE off, so
    # LogicalRDD keeps outputPartitioning/outputOrdering (the adaptive wrapper
    # would report UnknownPartitioning). The routed query's cogroup and the
    # hub-box aggregate read it with ZERO exchange and ZERO sort (its JVM
    # join re-keys it on (hub, cell) instead). No per-hub
    # tree is built here: queries never read one (``local_trees`` builds them
    # on demand). The explicit repartition also keeps this exchange at
    # n_parts tasks instead of the handful AQE would coalesce it to.
    members = None
    local_roots: list[int] = []
    if chains:
        local_roots = sorted(chains.keys())
        t0 = time.time()
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            members = (
                active_state.where(F.col("hub_vtx") >= 0)
                .select(
                    F.col("hub_vtx").alias("hub_id"),
                    F.col("pid").alias("point_id"),
                    F.col("x").alias("px"),
                    F.col("y").alias("py"),
                )
                .repartition(n_parts, "hub_id")
                .sortWithinPartitions("hub_id")
                .localCheckpoint(eager=True)
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        _trace("members", t0)

    # --- assemble top-tree vertex table --------------------------------------
    t0 = time.time()
    top = _vertices_df(spark, verts)
    if has_leaves:
        lvl_map = spark.createDataFrame(
            [(v, l) for v, l in vlevel.items()], "lv_vid long, lv_level long"
        )
        leaf_rows = state.where(F.col("leaf_parent") >= 0)
        leafs = (
            leaf_rows.join(F.broadcast(lvl_map), F.col("leaf_parent") == F.col("lv_vid"))
            .select(
                (F.lit(LEAF_VID_BASE) + F.col("pid")).alias("vertex_id"),
                F.col("pid").alias("point_id"),
                F.col("leaf_parent").alias("parent_id"),
                (F.col("lv_level") + 1).alias("level"),
            )
        )
        vertices = top.unionByName(leafs).localCheckpoint(eager=True)
    else:
        # no point was deactivated during the global phase → the leaf scan
        # + join would produce zero rows; skip the 1M-row pass entirely
        vertices = top.localCheckpoint(eager=True)
    _trace("vertices", t0)

    # members + vertices are materialized → the state bounce files are dead
    import shutil

    for p in bounce_dirs:
        shutil.rmtree(p, ignore_errors=True)

    return CoverTreeModel(
        base=base, max_radius=max_radius, root_pid=root_pid, vertices=vertices,
        points=points, local_roots=local_roots,
        metrics=_metrics_df(spark, metrics), num_global_iters=it,
        has_global_leaves=has_leaves, members=members,
        n_members=sum(final_counts.values()) if members is not None else 0,
    )


def local_trees(model: CoverTreeModel) -> DataFrame | None:
    """The reference's per-hub sequential cover trees (DistCoverTree.cpp:
    814-934), built on demand from ``model.members``: one LOCAL_TREE_SCHEMA
    table, or None for a fully-global model. No query reads them (stage 2
    finishes against ``members``); debug dumps and tests do.

    Each hub's level and point come from its top-tree vertex. The hub table
    is broadcast onto ``members``, which is already partitioned and sorted
    on the hub, so the grouped kernel runs with no exchange. The kernel sees
    the hub point first, then the members by ascending point id: the output
    is deterministic for a given model."""
    if model.members is None:
        return None
    hubs = model.vertices.where(
        F.col("vertex_id").isin(model.local_roots)
    ).select(
        F.col("vertex_id").alias("h_vtx"),
        F.col("level").alias("h_level"),
        F.col("point_id").alias("h_pid"),
    )
    # project to exactly what the kernel reads: a grouped map ships every
    # column through Arrow
    grouped = (
        model.members.join(F.broadcast(hubs), F.col("hub_id") == F.col("h_vtx"))
        .select("hub_id", "point_id", "px", "py", "h_level", "h_pid")
    )
    b = model.base

    def build_hub(t_in):
        # Arrow-native grouped map: int64/float32 columns come out of the
        # Arrow batch zero-copy; no pandas block consolidation either way
        import pyarrow as pa

        def col(name, dt):
            return t_in.column(name).combine_chunks().to_numpy(
                zero_copy_only=False).astype(dt, copy=False)

        pids = col("point_id", np.int64)
        hub = int(t_in.column("hub_id")[0].as_py())
        hlevel = int(t_in.column("h_level")[0].as_py())
        hpid = int(t_in.column("h_pid")[0].as_py())
        # root (hub point) first, members by ascending pid (lexsort primary
        # key = last: root flag, then ascending pid)
        order = np.lexsort((pids, pids != hpid))
        pids = pids[order]
        xy = np.stack(
            [col("px", np.float32)[order], col("py", np.float32)[order]],
            axis=1,
        )
        t = build_cover_tree_np(xy, base=b)
        return pa.table({
            "hub_id": np.full(len(t.pt), hub, dtype=np.int64),
            "lvertex_id": np.arange(len(t.pt), dtype=np.int64),
            "point_id": pids[t.pt],
            "lparent_id": t.parent.astype(np.int64),
            "level": t.level + hlevel,
            "px": xy[t.pt, 0],
            "py": xy[t.pt, 1],
            "lmax_radius": np.full(len(t.pt), t.max_radius, dtype=np.float64),
        })

    return grouped.groupBy("hub_id").applyInArrow(build_hub, LOCAL_TREE_SCHEMA)


def _vertices_df(spark: SparkSession, verts: list[tuple]) -> DataFrame:
    # pandas → Arrow path: one partition, no per-row Py4J pickling — measured
    # 50 ms vs 310 ms for the tuple path on the 135-row top table (values are
    # plain int64s, so the conversion is exact)
    pdf = pd.DataFrame(verts, columns=["vertex_id", "point_id", "parent_id", "level"])
    return spark.createDataFrame(
        pdf, "vertex_id long, point_id long, parent_id long, level long"
    )


def _metrics_df(spark: SparkSession, metrics: list[dict]) -> DataFrame:
    schema = ("iter long, n_hubs long, n_leaf_hubs long, n_split_verts long, "
              "n_extended long, duration_ms long, n_partitions long")
    cols = ["iter", "n_hubs", "n_leaf_hubs", "n_split_verts",
            "n_extended", "duration_ms", "n_partitions"]
    if not metrics:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame([[m[c] for c in cols] for m in metrics], columns=cols)
    return spark.createDataFrame(pdf, schema)


def _write_checkpoint(checkpoint_dir, state, it, base, max_radius, root_pid,
                      verts, vlevel, chains, coords, metrics) -> None:
    """Per-level Iceberg-style checkpoint: the build state commits as an
    immutable snapshot (atomic manifest rename, per-partition lineage — the
    north rule's 'checkpointed per level, resumable'), and driver.json
    atomically points at the snapshot id, so every checkpointed level remains
    time-travelable after the build finishes."""
    from parallelcovertree_spark.sources.snapshots import SnapshotTable

    os.makedirs(checkpoint_dir, exist_ok=True)
    table = SnapshotTable(f"{checkpoint_dir}/state_snapshots")
    snap_id = table.commit(state)
    tmp = f"{checkpoint_dir}/driver.json.tmp"
    with open(tmp, "w") as f:
        json.dump({
            "iter": it, "snapshot_id": snap_id, "base": base,
            "max_radius": max_radius,
            "root_pid": root_pid, "verts": verts,
            "vlevel": {str(k): v for k, v in vlevel.items()},
            "chains": {str(k): v for k, v in chains.items()},
            "coords": {str(k): list(v) for k, v in coords.items()},
            "metrics": metrics,
        }, f)
    os.replace(tmp, f"{checkpoint_dir}/driver.json")
