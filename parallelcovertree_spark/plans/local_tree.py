"""Sequential cover-tree kernel (numpy, Arrow-batch friendly).

A from-scratch vectorized implementation of the level-batched cover-tree
*semantics* defined by the reference (``/root/reference/src/CoverTree.cpp``):

- per-hub farthest-point selection, strict ``>`` argmax ⇒ lowest index wins
  ties (CoverTree.cpp:117);
- chain update rules (CoverTree.cpp:133-165): farthest_dist==0 → leaf hub;
  ≤ ball(hub)/base → split chain into new hubs; else extend chain;
- leaf processing deactivates every point of the hub as a child vertex
  (CoverTree.cpp:181-203);
- split processing re-homes points to the new hub of their nearest chain
  member (CoverTree.cpp:215-268);
- incremental distance maintenance against only the newest chain member,
  ``<=`` update (CoverTree.cpp:288-302).

Float discipline: float32 storage, float64 arithmetic (Point.cpp:27-38).

This kernel is used (a) per hub inside ``applyInArrow`` by
``local_trees(model)`` (plans/covertree.py), which builds the reference's
phase-2 local trees (``build_local_trees``, DistCoverTree.cpp:814-934) on
demand from a model's ``members`` — the build itself runs no tree kernel —
and (b) as the driver-side twin for tests. It is NOT a translation of the
C++ (no per-point insertion loops; phases are vectorized over all hubs at
once).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from parallelcovertree_spark.functions.cells import cell_side


@dataclass
class TreeArrays:
    """Columnar cover tree: vertex → (point index, level, parent)."""

    pt: np.ndarray        # int64[num_vertices] — point index per vertex
    level: np.ndarray     # int64[num_vertices]
    parent: np.ndarray    # int64[num_vertices], -1 for root
    max_radius: float
    base: float
    xy: np.ndarray        # float32[num_points, 2] — the point set


class _VertexStore:
    """Chunked growable vertex store: per-ROUND array appends instead of
    per-vertex list appends (the 150k-point profile showed 1.24M Python
    list appends = the kernel's hottest loop). ``level`` additionally keeps
    a doubling flat array because the chain rules read levels of arbitrary
    earlier vertices."""

    __slots__ = ("pt_chunks", "parent_chunks", "lvl", "n")

    def __init__(self, cap: int = 1024):
        self.pt_chunks: list[np.ndarray] = []
        self.parent_chunks: list[np.ndarray] = []
        self.lvl = np.empty(cap, dtype=np.int64)
        self.n = 0

    def append_chunk(self, pts: np.ndarray, levels: np.ndarray, parents: np.ndarray) -> int:
        """Append a block of vertices; returns the first new vertex id."""
        k = len(pts)
        first = self.n
        self.pt_chunks.append(np.asarray(pts, dtype=np.int64))
        self.parent_chunks.append(np.asarray(parents, dtype=np.int64))
        while self.n + k > len(self.lvl):
            self.lvl = np.concatenate([self.lvl, np.empty(len(self.lvl), dtype=np.int64)])
        self.lvl[self.n: self.n + k] = levels
        self.n += k
        return first

    def arrays(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        pt = np.concatenate(self.pt_chunks) if self.pt_chunks else np.empty(0, np.int64)
        par = np.concatenate(self.parent_chunks) if self.parent_chunks else np.empty(0, np.int64)
        return pt, self.lvl[: self.n].copy(), par


def build_cover_tree_np(xy: np.ndarray, base: float = 2.0) -> TreeArrays:
    """Level-batched build over float32 (n, 2) coords. Point index 0 is the
    root (the caller orders points; reference uses position 0 too)."""
    xy = np.ascontiguousarray(xy, dtype=np.float32)
    n = len(xy)
    assert n > 0
    xy64 = xy.astype(np.float64)

    # vertex store (chunked; vertex ids stay append-order sequential)
    vs = _VertexStore()
    vs.append_chunk(
        np.zeros(1, np.int64), np.zeros(1, np.int64), np.full(1, -1, np.int64)
    )
    v_level = vs.lvl  # alias; re-bound after growth below

    dists = np.sqrt(((xy64 - xy64[0]) ** 2).sum(axis=1))
    max_radius = float(dists.max())
    hub_vtx = np.zeros(n, dtype=np.int64)
    hub_pt = np.zeros(n, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    chains: dict[int, list[int]] = {0: [0]}

    if max_radius == 0.0:
        # all points coincide with the root: single leaf hub
        vs.append_chunk(
            np.arange(n, dtype=np.int64),
            np.ones(n, dtype=np.int64),
            np.zeros(n, dtype=np.int64),
        )
        pt, lvl, par = vs.arrays()
        return TreeArrays(pt, lvl, par, 0.0, base, xy)

    while chains:
        # --- farthest active point per hub (argmax, ties → lowest index) ---
        # one stable 1-key sort by hub (idx is ascending, so within-hub
        # order stays ascending-index) + reduceat segmented max + first
        # equal-to-max per segment — same answer as the previous 3-key
        # lexsort (hub asc, dist desc, idx asc) at ~half the sort cost
        idx = np.nonzero(active)[0]
        h = hub_vtx[idx]
        d = dists[idx]
        order = np.argsort(h, kind="stable")
        sh = h[order]
        sd = d[order]
        first = np.ones(len(sh), dtype=bool)
        first[1:] = sh[1:] != sh[:-1]
        starts = np.nonzero(first)[0]
        maxs = np.maximum.reduceat(sd, starts)
        seg_len = np.diff(np.concatenate([starts, [len(sh)]]))
        is_max = sd == np.repeat(maxs, seg_len)
        j = np.nonzero(is_max)[0]
        seg_of_j = np.searchsorted(starts, j, side="right") - 1
        _, first_occ = np.unique(seg_of_j, return_index=True)
        pick = j[first_occ]
        far_hub = sh[starts]
        far_idx = idx[order][pick]
        far_dist = sd[pick]

        # --- vectorized per-hub chain decision (CoverTree.cpp:133-165) ------
        # fdn / ball arithmetic is the same IEEE double expression tree as
        # the former per-hub Python loop (ball via Python pow on the few
        # UNIQUE levels, then gathered), so the leaf/split/extend partition
        # is bit-identical; only the loop bookkeeping is vectorized (the
        # 150k-point profile showed the decision loop + tails-dict
        # conversion as ~45% of kernel CPU).
        v_level = vs.lvl
        hub_lvls = v_level[far_hub]
        ulvl, lvl_code = np.unique(hub_lvls, return_inverse=True)
        ball_over_base = np.array(
            [base ** (-1.0 * l) / base for l in ulvl.tolist()], dtype=np.float64
        )[lvl_code]
        fdn = far_dist / max_radius
        leaf_m = fdn == 0.0
        split_m = ~leaf_m & (fdn <= ball_over_base)
        ext_m = ~(leaf_m | split_m)

        ext_h = far_hub[ext_m]
        ext_f = far_idx[ext_m]
        for h, f in zip(ext_h.tolist(), ext_f.tolist()):
            chains[h].append(f)

        # --- leaves: every point of the hub becomes a child vertex ----------
        # (vectorized: one chunk append per round, nonzero order == the old
        # per-point append order, so vertex ids are bit-identical)
        if leaf_m.any():
            leaf_arr = far_hub[leaf_m]
            for h in leaf_arr.tolist():
                del chains[h]
            m = active & np.isin(hub_vtx, leaf_arr)
            li = np.nonzero(m)[0]
            if len(li):
                lh = hub_vtx[li]
                vs.append_chunk(li, vs.lvl[lh] + 1, lh)
            active[m] = False
            hub_vtx[m] = -1
            hub_pt[m] = -1
            dists[m] = 0.0

        # --- splits: chain members → new hubs; re-home by nearest member ----
        # (split hubs processed in ascending-hub order == far_hub order;
        # each hub's members in chain append order — identical vertex ids)
        new_vids = new_mems = None
        if split_m.any():
            split_h = far_hub[split_m]
            mem_lists = [chains.pop(h) for h in split_h.tolist()]
            lens = np.array([len(ml) for ml in mem_lists], dtype=np.int64)
            flat = [m_ for ml in mem_lists for m_ in ml]
            s_pts = np.array(flat, dtype=np.int64)
            vid0 = vs.n
            s_pars = np.repeat(split_h, lens)
            vs.append_chunk(s_pts, v_level[s_pars] + 1, s_pars)
            new_vids = np.arange(vid0, vid0 + len(s_pts), dtype=np.int64)
            new_mems = s_pts
            for v, m_ in zip(new_vids.tolist(), flat):
                chains[v] = [m_]
            # vectorized re-home: hub_pt is always a chain member of the
            # point's own hub, and chains are disjoint across hubs
            srt = np.argsort(s_pts)
            keys, vals = s_pts[srt], new_vids[srt]
            m = active
            pos = np.searchsorted(keys, hub_pt[m])
            pos_ok = (pos < len(keys)) & (keys[np.minimum(pos, len(keys) - 1)] == hub_pt[m])
            upd = np.nonzero(m)[0][pos_ok]
            hub_vtx[upd] = vals[pos[pos_ok]]

        # --- incremental distance update vs newest chain member -------------
        # tails = extended hubs' new chain tails + each new split hub's
        # initial member; keys are disjoint (a hub either extended or split)
        if len(ext_h) or new_vids is not None:
            if new_vids is None:
                th, tp = ext_h, ext_f
            elif not len(ext_h):
                th, tp = new_vids, new_mems
            else:
                th = np.concatenate([ext_h, new_vids])
                tp = np.concatenate([ext_f, new_mems])
            srt = np.argsort(th)
            th, tp = th[srt], tp[srt]
            m = active
            mi = np.nonzero(m)[0]
            pos = np.searchsorted(th, hub_vtx[mi])
            pos_ok = (pos < len(th)) & (th[np.minimum(pos, len(th) - 1)] == hub_vtx[mi])
            mi = mi[pos_ok]
            tgt = tp[pos[pos_ok]]
            cur = np.sqrt(((xy64[mi] - xy64[tgt]) ** 2).sum(axis=1))
            upd = cur <= dists[mi]
            dists[mi[upd]] = cur[upd]
            hub_pt[mi[upd]] = tgt[upd]

    pt, lvl, par = vs.arrays()
    return TreeArrays(pt, lvl, par, max_radius, base, xy)


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[3,1,2] → [0,1,2,0,0,1] — per-group aranges without Python loops."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    ends = np.cumsum(counts)[:-1]
    out[ends] = -(counts[:-1] - 1)
    return np.cumsum(out)


_GRID_DIRS = np.array([(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
                      dtype=np.int64)


def grid_radius_pairs(
    px: np.ndarray, py: np.ndarray,
    qx: np.ndarray, qy: np.ndarray,
    radius: float,
) -> tuple[np.ndarray, np.ndarray]:
    """All (query_idx, point_idx) with d² ≤ radius² — ONE vectorized pass.

    Dense local radius solver: bucket the points into grid cells, gather each
    query's 3×3 ring via searchsorted over the sorted cell directory, test
    d² ≤ r² on the gathered candidates. Zero per-query Python. Same exact
    result as traversing the hub's local tree, at a fraction of the cost: a
    batched frontier traversal pays ~10 iterations of ragged gathers per
    tree level, the grid pays three numpy passes total (measured 30× on the
    routed ε-query's per-hub finish at 1M points). It is the kernel of the
    routed query's grouped stage 2 (``plans/query.py``).

    Cells are ``cell_side(radius)`` wide, the side every radius path
    buckets on.
    """
    r = float(radius)
    s = cell_side(r)
    if not len(px) or not len(qx):
        z = np.empty(0, dtype=np.int64)
        return z, z
    ix = np.floor(px / s).astype(np.int64)
    iy = np.floor(py / s).astype(np.int64)
    qix = np.floor(qx / s).astype(np.int64)
    qiy = np.floor(qy / s).astype(np.int64)
    iymin = min(int(iy.min()), int(qiy.min())) - 1
    span = max(int(iy.max()), int(qiy.max())) - iymin + 3
    key = ix * np.int64(span) + (iy - iymin)
    order = np.argsort(key, kind="stable")
    ks = key[order]
    uk, ustart = np.unique(ks, return_index=True)
    uend = np.concatenate([ustart[1:], [len(ks)]])
    nbr = (qix[:, None] + _GRID_DIRS[None, :, 0]) * np.int64(span) + (
        qiy[:, None] + _GRID_DIRS[None, :, 1] - iymin
    )
    pos = np.searchsorted(uk, nbr)
    posc = np.minimum(pos, len(uk) - 1)
    ok = uk[posc] == nbr
    lens = np.where(ok, uend[posc] - ustart[posc], 0).ravel()
    starts = np.where(ok, ustart[posc], 0).ravel()
    # drop empty segments BEFORE the ragged expansion (_ragged_arange's
    # cumsum trick mis-counts zero-length groups)
    nz = lens > 0
    lens, starts = lens[nz], starts[nz]
    qrep = np.repeat(np.repeat(np.arange(len(qx), dtype=np.int64), 9)[nz], lens)
    cand = order[np.repeat(starts, lens) + _ragged_arange(lens)]
    dx = qx[qrep] - px[cand]
    dy = qy[qrep] - py[cand]
    hit = dx * dx + dy * dy <= r * r
    return qrep[hit], cand[hit]
