"""Exact kNN join (k=10 north star): grid blocks with a one-cell halo.

The reference's primitive is the radius query; its kNN ground truth is exact
brute force (``programs/epsilon_graph.cpp:113-118`` pattern,
``snn_test.py:30-36``). The engine has one plan, ``knn_join_block_kernel``:

1. Pick a starting radius r₀ from global density (k / points-per-area).
2. Bucket points at ``cells.cell_side(r)`` and ship each to its block of
   16 × 16 cells plus the adjacent blocks whose one-cell halo it lies in.
   A numpy kernel per block gathers each core's 3×3 cell ring.
3. A core is CERTIFIED iff it has ≥ k candidates within r: the ring holds
   every point within r, so its true top-k is among them.
4. Uncertified cores retry at doubled radius; ≤ ``max_rounds`` rounds, then
   an exact straggler fallback (the remaining set is small — isolated
   points).

Ties broken (dist² asc, dst asc); self excluded (FIXTURES.md F3).
``knn_brute_force`` is the oracle-shaped exact variant (cross join +
window) — quadratic, test scale only. ``plans.query.tree_knn`` answers the
same query through the cover tree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parallelcovertree_spark.functions.cells import cell_side
from parallelcovertree_spark.functions.geo import dist2_expr
from parallelcovertree_spark.plans.local_tree import _ragged_arange

# a block is _BLOCK_CELLS × _BLOCK_CELLS grid cells; a point ships once to
# its own block plus to the ≤ 3 adjacent blocks whose 1-cell halo it lies in,
# expected replication ((B+2)/B)² ≈ 1.27
_BLOCK_CELLS = 16


def _prep(points: DataFrame, id_col: str, x: str, y: str, role: str) -> DataFrame:
    i, xx, yy = ("src", "sx", "sy") if role == "l" else ("dst", "tx", "ty")
    return points.select(
        F.col(id_col).alias(i),
        F.col(x).cast("double").alias(xx),
        F.col(y).cast("double").alias(yy),
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.col("dist2").asc(), F.col("dst").asc())
    return cand.withColumn("nbr_rank", F.row_number().over(w)).where(F.col("nbr_rank") <= k)


def estimate_radius(points: DataFrame, k: int, x: str = "x", y: str = "y") -> float:
    """r₀ ≈ sqrt(k / density): the radius expected to hold ~k neighbors."""
    row = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(x).alias("x0"), F.max(x).alias("x1"),
        F.min(y).alias("y0"), F.max(y).alias("y1"),
    ).collect()[0]
    n = max(int(row.n), 1)
    area = max((float(row.x1) - float(row.x0)) * (float(row.y1) - float(row.y0)), 1e-12)
    return max((k * area / n) ** 0.5, 1e-6)


def knn_brute_force(
    points: DataFrame,
    k: int = 10,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """O(n²) exact kNN — the reference's ground-truth pattern. Test scale."""
    left = _prep(points, id_col, x, y, "l")
    right = _prep(points, id_col, x, y, "r")
    cand = (
        left.crossJoin(right)
        .where(F.col("src") != F.col("dst"))
        .withColumn("dist2", dist2_expr("sx", "sy", "tx", "ty"))
    )
    return _topk(cand, k).select("src", "nbr_rank", "dst")


def knn_join_block_kernel(
    points: DataFrame,
    k: int = 10,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    r0: float | None = None,
    max_rounds: int = 5,
    queries: DataFrame | None = None,
    query_id_col: str = "id",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Exact kNN → (src, nbr_rank, dst), rank 1..k, via per-BLOCK numpy
    kernels.

    The unit of work is a BLOCK of 16 × 16 grid cells at side
    ``cell_side(r)``: a point ships once to its own block plus to adjacent
    blocks only when it sits in the block's 1-cell border (expected
    replication ≈ 1.27). Inside a task the kernel resolves each core cell's
    3×3 ring by searchsorted lookups over the block's cell-sorted rows (the
    halo guarantees the ring is complete), so a core with ≥ k candidates
    within r has its exact top-k — the brute-force oracle's answer.
    Uncertified cores come back as empty-topk marker rows and retry at
    doubled radius; the last few fall back to an exact straggler scan.

    ``queries`` switches to the two-table form (queries × corpus): query
    rows ship to their own block only (the corpus halo brings their ring)
    and are never candidates. By default a corpus point sharing a query's id
    is excluded (so querying the corpus with itself equals the self-join);
    pass ``exclude_same_id=False`` for genuinely disjoint tables whose id
    spaces may collide — then a corpus point with the query's id is a valid
    neighbor. Self-join mode always excludes the point itself.
    """
    import pyarrow as pa

    M = 1 << 21
    OFF = 1 << 20
    B = _BLOCK_CELLS
    NBR = np.array([dx * M + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1)], dtype=np.int64)

    base = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x).cast("double").alias("px"),
        F.col(y).cast("double").alias("py"),
    ).persist()
    qbase = None
    if queries is not None:
        qbase = queries.select(
            F.col(query_id_col).cast("long").alias("pid"),
            F.col(x).cast("double").alias("px"),
            F.col(y).cast("double").alias("py"),
        ).persist()
    if r0 is not None:
        n_total = base.count()
        r = float(r0)
    else:
        # ONE job for count + extent (estimate_radius's agg includes the
        # count — running base.count() separately was a second full pass)
        row = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("px").alias("x0"), F.max("px").alias("x1"),
            F.min("py").alias("y0"), F.max("py").alias("y1"),
        ).collect()[0]
        n_total = int(row.n)
        n_est = max(n_total, 1)
        area = max((float(row.x1) - float(row.x0)) * (float(row.y1) - float(row.y0)), 1e-12)
        r = max(((k + 1) * area / n_est) ** 0.5, 1e-6)
    # self-join always masks the point's own row; two-table masks colliding
    # ids only when exclude_same_id (the default = "queries ⊆ corpus")
    mask_same = qbase is None or exclude_same_id
    brute_pair_budget = 200_000_000
    spark = base.sparkSession
    parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 16)
    out_schema = "src long, topk array<long>"
    results: list[DataFrame] = []
    unresolved_ids: DataFrame | None = None

    for round_no in range(max_rounds):
        s = cell_side(r)
        ix = F.floor(F.col("px") / F.lit(s)).cast("long")
        iy = F.floor(F.col("py") / F.lit(s)).cast("long")
        # NOTE: no "cell" column and no within-partition sort — the kernel
        # re-derives cells from (px, py) with the same IEEE floor(px / s) the
        # JVM would use and sorts its partition in numpy (a partition is a
        # few MB of columns; one lexsort replaces the JVM Timsort AND 8
        # bytes/row of shuffle + Arrow traffic)
        cands = base.select(
            "pid", "px", "py",
            F.pmod(ix, F.lit(B)).alias("mx"), F.pmod(iy, F.lit(B)).alias("my"),
        )
        # a point reaches at most 4 blocks (own + the ≤3 adjacent ones its
        # border position demands): build exactly those entries and drop the
        # nulls, instead of generating the full 9-offset ring and filtering
        # 7/9 of it away (9n → ≤4n generated rows)
        sx = (F.when(F.col("mx") == 0, -1)
              .when(F.col("mx") == B - 1, 1).otherwise(0)).cast("int")
        sy = (F.when(F.col("my") == 0, -1)
              .when(F.col("my") == B - 1, 1).otherwise(0)).cast("int")
        zero = F.lit(0).cast("int")
        ents = F.array(
            F.struct(zero.alias("dx"), zero.alias("dy")),
            F.when(sx != 0, F.struct(sx.alias("dx"), zero.alias("dy"))),
            F.when(sy != 0, F.struct(zero.alias("dx"), sy.alias("dy"))),
            F.when((sx != 0) & (sy != 0),
                   F.struct(sx.alias("dx"), sy.alias("dy"))),
        )
        ex = (
            cands.select("pid", "px", "py", F.explode(ents).alias("_o"))
            .where(F.col("_o").isNotNull())
            .select(
                "pid", "px", "py",
                ((F.col("_o.dx") + 1) * 3 + (F.col("_o.dy") + 1))
                .cast("tinyint").alias("off"),
                ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("own"),
            )
        )
        if qbase is not None:
            # two-table: corpus rows are candidates only; query rows go to
            # their own block, are cores only
            ex = ex.select("pid", "px", "py", "off",
                           F.lit(False).alias("core"), F.lit(True).alias("cand"))
            qrows = qbase.select(
                "pid", "px", "py",
                F.lit(4).cast("tinyint").alias("off"),
                F.lit(True).alias("core"), F.lit(False).alias("cand"),
            )
            if unresolved_ids is not None:
                flag = unresolved_ids.withColumn("_u", F.lit(True))
                qrows = qrows.join(flag, qrows.pid == flag.src, "left").select(
                    "pid", "px", "py", "off",
                    F.coalesce(F.col("_u"), F.lit(False)).alias("core"), "cand",
                )
            ex = ex.unionByName(qrows)
        elif unresolved_ids is None:
            ex = ex.withColumn("core", F.col("own")).drop("own").withColumn(
                "cand", F.lit(True)
            )
        else:
            flag = unresolved_ids.withColumn("_u", F.lit(True))
            ex = ex.join(flag, ex.pid == flag.src, "left").select(
                "pid", "px", "py", "off",
                (F.col("own") & F.coalesce(F.col("_u"), F.lit(False))).alias("core"),
                F.lit(True).alias("cand"),
            )
        rr = r
        ss = s

        def kernel(batches):
            # columns as raw numpy (Arrow-native, no pandas block conversion
            # for the ~1.3M-row shuffle leg — guide §4.2). The whole
            # partition is gathered (a few MB of narrow columns even at 10M
            # points), cells are re-derived from (px, py) — np.floor(px / s)
            # is the identical IEEE-double op to the JVM FLOOR that built the
            # block ids — and ONE numpy lexsort groups (block, cell),
            # replacing the JVM sortWithinPartitions and the shipped cell
            # column (8 bytes/row of shuffle + Arrow saved).

            def solve(cols: dict):
                ids = cols["pid"]
                px_a = cols["px"]
                py_a = cols["py"]
                ixk = np.floor(px_a / ss).astype(np.int64)
                iyk = np.floor(py_a / ss).astype(np.int64)
                cells = (ixk + OFF) * M + (iyk + OFF)
                # target block from the 1-byte offset code — the same
                # integer-exact (ix - mod) / B + decoded (dx, dy) the JVM
                # partitioning expression evaluates, so a block's rows land
                # in one partition AND regroup here under the same id
                offc = cols["off"].astype(np.int64)
                bxk = (ixk - np.mod(ixk, B)) // B + (offc - np.mod(offc, 3)) // 3 - 1
                byk = (iyk - np.mod(iyk, B)) // B + np.mod(offc, 3) - 1
                blocks = (bxk + OFF) * M + (byk + OFF)
                order = np.lexsort((cells, blocks))
                blocks = blocks[order]
                cells = cells[order]
                ids = ids[order]
                px_a = px_a[order]
                py_a = py_a[order]
                core = cols["core"][order]
                cand = cols["cand"][order]
                r2 = rr * rr
                out_src, out_dst, fail_src = [], [], []
                # iterate block groups; within each, a fully vectorized
                # grouped top-k (no per-cell Python loop): ring-gather every
                # core row's 3x3 cell neighborhood through the sorted cell
                # directory, one d2 pass, one (src, d2, dst) lexsort, take
                # rank < k per certified core. Certification rule unchanged:
                # a core with >= k within-r candidates (self excluded when
                # mask_same) is exact — the halo guarantees its full ring is
                # present, so every point within r is among the candidates —
                # and the lexsort yields the exact (d2 asc, dst asc) order.
                bbounds = np.nonzero(np.diff(blocks))[0] + 1
                bstarts = np.concatenate([[0], bbounds])
                bends = np.concatenate([bbounds, [len(blocks)]])
                for b0, b1 in zip(bstarts, bends):
                    bc = cells[b0:b1]
                    crows = np.nonzero(core[b0:b1])[0]
                    if not len(crows):
                        continue
                    uc, ustart = np.unique(bc, return_index=True)
                    uend = np.concatenate([ustart[1:], [b1 - b0]])
                    nbrs = bc[crows][:, None] + NBR[None, :]
                    pos = np.searchsorted(uc, nbrs)
                    posc = np.minimum(pos, len(uc) - 1)
                    ok = (pos < len(uc)) & (uc[posc] == nbrs)
                    lens = np.where(ok, uend[posc] - ustart[posc], 0).ravel()
                    starts = np.where(ok, ustart[posc], 0).ravel()
                    nz = lens > 0
                    lens_nz, starts_nz = lens[nz], starts[nz]
                    qrep = np.repeat(
                        np.repeat(np.arange(len(crows), dtype=np.int64), 9)[nz],
                        lens_nz,
                    )
                    crep = np.repeat(starts_nz, lens_nz) + _ragged_arange(lens_nz)
                    keep = cand[b0 + crep]
                    qrep, crep = qrep[keep], crep[keep]
                    cr = b0 + crows[qrep]
                    ca = b0 + crep
                    dx = px_a[cr] - px_a[ca]
                    dy = py_a[cr] - py_a[ca]
                    d2 = dx * dx + dy * dy
                    within = d2 <= r2
                    if mask_same:
                        within &= ids[cr] != ids[ca]
                    hq = qrep[within]
                    hp = ca[within]
                    hd2 = d2[within]
                    cnt = np.bincount(hq, minlength=len(crows))
                    cert = cnt >= k
                    if not cert.all():
                        fail_src.append(ids[b0 + crows[~cert]])
                    if not cert.any():
                        continue
                    m = cert[hq]
                    hq, hp, hd2 = hq[m], hp[m], hd2[m]
                    hdst = ids[hp]
                    order = np.lexsort((hdst, hd2, hq))
                    hq_s = hq[order]
                    gstart = np.flatnonzero(np.r_[True, hq_s[1:] != hq_s[:-1]])
                    gsize = np.diff(np.r_[gstart, len(hq_s)])
                    rank = np.arange(len(hq_s), dtype=np.int64) - np.repeat(
                        gstart, gsize
                    )
                    sel = rank < k
                    out_src.append(ids[b0 + crows[hq_s[gstart]]])
                    out_dst.append(hdst[order][sel])
                src_ok = np.concatenate(out_src) if out_src else np.empty(0, np.int64)
                dst_flat = np.concatenate(out_dst) if out_dst else np.empty(0, np.int64)
                fs = np.concatenate(fail_src) if fail_src else np.empty(0, np.int64)
                src_arr = np.concatenate([src_ok, fs])
                if not len(src_arr):
                    return None
                # zero-copy packed lists: offsets step k for certified rows,
                # then repeat for uncertified ([] = straggler marker)
                lens = np.zeros(len(src_arr), dtype=np.int32)
                lens[: len(src_ok)] = k
                offsets = np.zeros(len(src_arr) + 1, dtype=np.int32)
                np.cumsum(lens, out=offsets[1:])
                topk = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(dst_flat, pa.int64())
                )
                return pa.RecordBatch.from_arrays(
                    [pa.array(src_arr, pa.int64()), topk], ["src", "topk"]
                )

            _DT = {"off": np.int8, "pid": np.int64,
                   "px": np.float64, "py": np.float64, "core": bool, "cand": bool}

            def to_cols(rb):
                names = rb.schema.names
                return {
                    n: rb.column(j).to_numpy(zero_copy_only=False).astype(
                        _DT[n], copy=False)
                    for j, n in enumerate(names) if n in _DT
                }

            chunks = [to_cols(rb) for rb in batches if rb.num_rows]
            if chunks:
                cols = (chunks[0] if len(chunks) == 1 else
                        {n: np.concatenate([c[n] for c in chunks])
                         for n in chunks[0]})
                out = solve(cols)
                if out is not None and len(out):
                    yield out

        # the exchange hashes a DERIVED block expression over (px, py, off) —
        # integer-exact arithmetic ((ix - pmod(ix, B)) / B is an exact
        # multiple) that the kernel reproduces bit-for-bit in numpy, so no
        # block id is ever shipped: the shuffle and Arrow legs carry a
        # 1-byte offset code where an 8-byte block id used to ride
        _bxe = ((ix - F.pmod(ix, F.lit(B))) / B).cast("long")
        _bye = ((iy - F.pmod(iy, F.lit(B))) / B).cast("long")
        _offl = F.col("off").cast("long")
        _dxe = ((_offl - F.pmod(_offl, F.lit(3))) / 3).cast("long") - 1
        _dye = F.pmod(_offl, F.lit(3)) - 1
        _blk_expr = (_bxe + _dxe + OFF) * M + (_bye + _dye + OFF)
        solved = (
            ex.repartition(parts, _blk_expr)
            .mapInArrow(kernel, out_schema)
            .localCheckpoint(eager=True)
        )
        results.append(
            solved.where(F.size("topk") > 0)
            .select("src", F.posexplode("topk").alias("pos", "dst"))
            .select("src", (F.col("pos") + 1).cast("int").alias("nbr_rank"), "dst")
        )
        prev_unresolved = unresolved_ids
        unresolved_ids = solved.where(F.size("topk") == 0).select("src").persist()
        remaining = unresolved_ids.count()
        if prev_unresolved is not None:
            prev_unresolved.unpersist()
        if remaining == 0:
            break
        r *= 2.0
        if remaining * n_total <= brute_pair_budget or round_no == max_rounds - 1:
            qsrc = qbase if qbase is not None else base
            if remaining * n_total <= 20_000_000:
                # tiny pair count: one whole-stage-codegen scan of the cached
                # base (broadcast join) beats shipping the base through Arrow
                # to Python — measured 0.45s vs 1.05s warm at remaining=2,
                # 1M corpus. The top-k itself is TWO-PHASE (guide §2.3
                # map-side aggregation): a single window over q would sort
                # remaining partitions of n rows each; instead phase 1 ranks
                # within (q, pmod(pid, parts)) — `parts` small sorted groups —
                # keeps k rows per group (any global top-k member is in its
                # own salt group's top-k), and phase 2's window ranks only
                # remaining·parts·k tiny rows.
                strag = qsrc.join(
                    F.broadcast(unresolved_ids), qsrc.pid == F.col("src")
                ).select(F.col("pid").alias("q"), F.col("px").alias("qx"),
                         F.col("py").alias("qy"))
                cand = F.broadcast(strag).join(
                    base, F.col("q") != F.col("pid") if mask_same else F.lit(True)
                )
                d2w = ((F.col("qx") - F.col("px")) * (F.col("qx") - F.col("px"))
                       + (F.col("qy") - F.col("py")) * (F.col("qy") - F.col("py")))
                pre = cand.select(
                    "q", "pid", d2w.alias("_d2"),
                    F.pmod(F.col("pid"), F.lit(parts)).alias("_salt"),
                )
                w1 = Window.partitionBy("q", "_salt").orderBy(
                    F.col("_d2").asc(), F.col("pid").asc())
                w2 = Window.partitionBy("q").orderBy(
                    F.col("_d2").asc(), F.col("pid").asc())
                results.append(
                    pre.withColumn("_rk", F.row_number().over(w1))
                    .where(F.col("_rk") <= k)
                    .withColumn("nbr_rank", F.row_number().over(w2))
                    .where(F.col("nbr_rank") <= k)
                    .select(F.col("q").alias("src"), "nbr_rank",
                            F.col("pid").alias("dst"))
                    .localCheckpoint(eager=True)
                )
                break
            strag_rows = qsrc.join(
                F.broadcast(unresolved_ids), qsrc.pid == F.col("src")
            ).select("pid", "px", "py").collect()
            # partial-top-k scan for LARGE straggler sets: the broadcast-join
            # + window above shuffles remaining·n candidate rows into
            # `remaining` window partitions (a giant sort per straggler when
            # remaining·n is big). Here each base partition emits only its
            # own top-k per straggler (numpy, exact (d², dst) tie-break), and
            # the final window ranks ≤ partitions·k·remaining tiny rows.
            # Map-side aggregation before the shuffle, guide §2.3.
            sq_ids = np.array([r.pid for r in strag_rows], dtype=np.int64)
            sq_xy = np.array([[r.px, r.py] for r in strag_rows], dtype=np.float64)
            ms = mask_same
            kk = k

            def partial_topk(batches):
                import pyarrow as pa

                best_src, best_dst, best_d2 = [], [], []
                # slice each arrow batch so the nq×rows distance matrix
                # stays ≤ ~8M cells regardless of straggler count
                step = max(4096, 8_000_000 // max(len(sq_ids), 1))
                for rb in batches:
                    pid_all = rb.column(0).to_numpy()
                    px_all = rb.column(1).to_numpy()
                    py_all = rb.column(2).to_numpy()
                    for lo in range(0, len(pid_all), step):
                        pid = pid_all[lo:lo + step]
                        px = px_all[lo:lo + step]
                        py = py_all[lo:lo + step]
                        d2 = (sq_xy[:, 0:1] - px[None, :]) ** 2 + (
                            sq_xy[:, 1:2] - py[None, :]) ** 2
                        if ms:
                            d2[sq_ids[:, None] == pid[None, :]] = np.inf
                        for qi in range(len(sq_ids)):
                            drow = d2[qi]
                            finite = np.isfinite(drow)
                            cand_d, cand_p = drow[finite], pid[finite]
                            if len(cand_d) > kk:
                                sel = np.lexsort((cand_p, cand_d))[:kk]
                                cand_d, cand_p = cand_d[sel], cand_p[sel]
                            best_src.append(np.full(len(cand_d), sq_ids[qi]))
                            best_dst.append(cand_p)
                            best_d2.append(cand_d)
                if best_src:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.concatenate(best_src), pa.int64()),
                         pa.array(np.concatenate(best_dst), pa.int64()),
                         pa.array(np.concatenate(best_d2), pa.float64())],
                        ["src", "dst", "d2"],
                    )

            cand_small = base.mapInArrow(partial_topk, "src long, dst long, d2 double")
            w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("dst").asc())
            results.append(
                cand_small.withColumn("nbr_rank", F.row_number().over(w))
                .where(F.col("nbr_rank") <= k)
                .select("src", "nbr_rank", "dst")
                .localCheckpoint(eager=True)
            )
            break

    out = results[0]
    for p in results[1:]:
        out = out.unionByName(p)
    base.unpersist()
    if qbase is not None:
        qbase.unpersist()
    if unresolved_ids is not None:
        unresolved_ids.unpersist()
    return out
