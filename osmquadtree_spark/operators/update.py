"""Incremental update: re-derive quadtrees for a change set and route rows
to tiles, with Remove tombstones in vacated tiles.

Reference semantics (/root/reference/src/update/update.cpp):

* ``calc_change_qts`` (539-654): elements with changetype > Delete get new
  cells — ways from the bbox of their (possibly moved) member nodes at
  buffer 0.05 / depth 18, member nodes from the common()-fold of their
  active ways' cells, remaining active nodes from their point cell,
  relations from the member-LCA + the 5-pass rel→rel closure. Then per
  element: Normal context rows whose cell did not change are DROPPED
  (update.cpp:645-651 "remove unneeded extra nodes"); Normal rows whose
  cell changed become Unchanged with the new cell; Unchanged/Modify/Create
  take the new cell; Delete/Remove keep their old cell.
* ``find_change_tiles`` (656-700): survivors (ct > Remove) land in
  ``find_tile(cell)``; if the original allocation differs, a COPY with
  changetype Remove and qt 0 is added to the OLD tile (the tombstone that
  evicts the stale row); Delete/Remove rows go to their original tile with
  qt 0.

Spark-first: the reference's id-indexed element map is the shuffled key; the
whole pass is joins + CASE, reusing the calcqts operators at depth 18.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cached
from ..functions.udfs import make_qt_calculate, qt_common_col
from ..kernels import quadtree as qtk
from .calcqts import relation_quadtrees, way_node_pairs, way_quadtrees
from .changes import CT_DELETE, CT_REMOVE, CT_UNCHANGED
from .sortblocks import make_assign_group_udf

UPDATE_DEPTH = 18  # update path uses depth 18 (update.cpp:562)


def calc_change_qts(
    nodes: DataFrame,
    ways: DataFrame,
    rels: DataFrame,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = UPDATE_DEPTH,
) -> dict[str, DataFrame]:
    """Change-set → resolved (id, qt, changetype) per element type.

    Inputs carry the change map: nodes(node_id, lon, lat, changetype,
    old_qt), ways(way_id, refs, changetype, old_qt), rels(rel_id, members,
    changetype, old_qt). Normal(0) rows are the context pulled from existing
    tiles; their old_qt is the stored cell. Rows dropped from the output are
    the reference's erased "unneeded extra nodes". Unresolvable way refs are
    skipped (the reference hard-fails after 10 missing nodes —
    strictness belongs to the caller; see missing_ref_count)."""
    ct = F.col("changetype")
    active_ways = ways.filter(ct > CT_DELETE)
    # way cells feed the node fold, the way resolution, and the relation
    # member lookup; node cells feed resolution + relations — persist both
    # (the reference's qts store plays the same role, update.cpp:539).
    # small_nodes: a change set is diff-scale by construction (update.cpp
    # processes daily .osc files), so the node-location lookup broadcasts.
    wq = cached(way_quadtrees(active_ways, nodes, buffer, max_depth, small_nodes=True))

    qt_calc = make_qt_calculate(buffer, max_depth)
    from_ways = (
        way_node_pairs(active_ways)
        .join(F.broadcast(wq), "way_id")
        .filter(F.col("qt") >= 0)
        .groupBy("node_id")
        .agg(F.min("qt").alias("qt_min"), F.max("qt").alias("qt_max"))
        .select("node_id", qt_common_col("qt_min", "qt_max").alias("way_qt"))
    )
    node_new = nodes.join(from_ways, "node_id", "left").select(
        "node_id",
        "changetype",
        "old_qt",
        F.when(F.col("way_qt").isNotNull(), F.col("way_qt"))
        .when(ct > CT_DELETE, qt_calc("lon", "lat", "lon", "lat"))
        .alias("new_qt"),
    )
    node_new = cached(node_new)

    active_rels = rels.filter(ct > CT_DELETE)
    rq = relation_quadtrees(
        active_rels.select("rel_id", "members"),
        node_new.filter(F.col("new_qt").isNotNull()).select(
            "node_id", F.col("new_qt").alias("qt")
        ),
        wq,
        small_member_qts=True,
    )

    def resolve(df: DataFrame, id_col: str) -> DataFrame:
        c = F.col("changetype")
        new, old = F.col("new_qt"), F.col("old_qt")
        return (
            df.withColumn(
                "_drop",
                # Normal context whose cell didn't change (the reference's
                # erased "extra nodes"), and survivors with NO derivable
                # cell (a way none of whose refs resolved — the reference
                # aborts instead, update.cpp:548-556; we skip like the
                # calcqts path and surface the count via missing_ref_count).
                # old.isNull() is explicit: a Normal row absent from the
                # stored qts (degenerate input — context always comes FROM
                # the store) is dropped; relying on `new == old` evaluating
                # to SQL NULL gave the same outcome but silently, and the
                # in-mem twin + DuckDB oracle must restate it
                ((c == 0) & (new.isNull() | old.isNull() | (new == old)))
                | ((c > CT_REMOVE) & new.isNull()),
            )
            .filter(~F.col("_drop"))
            .select(
                F.col(id_col),
                F.when(c.isin(CT_DELETE, CT_REMOVE), old).otherwise(new).alias("qt"),
                F.when(c == 0, F.lit(CT_UNCHANGED)).otherwise(c).alias("changetype"),
            )
        )

    way_new = ways.join(wq.withColumnRenamed("qt", "new_qt"), "way_id", "left").select(
        "way_id", "changetype", "old_qt", "new_qt"
    )
    rel_new = rels.join(rq.withColumnRenamed("qt", "new_qt"), "rel_id", "left").select(
        "rel_id", "changetype", "old_qt", "new_qt"
    )
    return {
        "nodes": resolve(node_new, "node_id"),
        "ways": resolve(way_new, "way_id"),
        "relations": resolve(rel_new, "rel_id"),
    }


class DuplicateChangeIds(ValueError):
    """Raised by :func:`calc_change_qts_inmem` when a change table repeats
    an id (a raw non-deduplicated .osc). The ONLY condition callers may
    catch to fall back to the distributed path — any other error in the
    in-mem twin is a defect and must surface, not silently reroute."""


def calc_change_qts_inmem(
    spark,
    nodes_pdf,
    ways_pdf,
    rels_pdf,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = UPDATE_DEPTH,
    max_missing_refs: int | None = None,
    missing_out: dict | None = None,
) -> dict[str, DataFrame]:
    """Driver-side twin of :func:`calc_change_qts` for diff-scale change
    sets — the reference's own execution shape: ``oqt update`` resolves
    the day's .osc entirely in one process (update.cpp:539-654); only the
    planet-side work (store scan, tile routing) needs a cluster. The
    distributed version distributes a ~30k-row daily diff across ~10
    scheduler round-trips; this path is one collect + numpy + one
    createDataFrame per type, with BIT-IDENTICAL results (same kernels:
    qtk.calculate / common; same resolution CASEs; the same 5-pass
    Gauss-Seidel closure in the reference's sequential order). Callers
    gate on the change-set row count (queries._resolved_elements); the
    DuckDB oracles gate the outputs either way.

    Inputs are pandas frames of the change tables (node_id, lon, lat,
    changetype, old_qt / way_id, refs, changetype, old_qt / rel_id,
    members, changetype, old_qt)."""
    import pandas as pd

    def _i64(s):
        return s.to_numpy(np.int64)

    def _take(arr, idx, fill=np.int64(-1)):
        """arr[idx] with -1 indices (and an empty arr) yielding ``fill`` —
        fancy-indexing an empty array with clipped indices raises."""
        out = np.full(len(idx), fill, dtype=np.int64)
        m = idx >= 0
        if len(arr) and m.any():
            out[m] = arr[idx[m]]
        return out

    for col, frame in (
        ("node_id", nodes_pdf), ("way_id", ways_pdf), ("rel_id", rels_pdf)
    ):
        if not frame[col].is_unique:
            # a raw .osc may repeat an id (create + modify in one file);
            # the distributed operator tolerates that shape — route such
            # inputs there instead of silently picking one row here
            raise DuplicateChangeIds(
                f"duplicate {col} in change set: use calc_change_qts "
                "(the distributed path) for non-deduplicated change tables"
            )

    # float64 ints are exact only below 2^53; quadtree cell ids carry their
    # first path digit at bit 61, so a qt (or 1e7-scaled coord) column that
    # arrived as float64 (Arrow toPandas of a NULLABLE bigint) can be
    # silently rounded — refuse rather than diverge from the distributed
    # twin. queries._resolved_elements collects via toArrow()/
    # integer_object_nulls so nullable bigints arrive as exact objects.
    for frame, cols in (
        (nodes_pdf, ("node_id", "lon", "lat", "old_qt")),
        (ways_pdf, ("way_id", "old_qt")),
        (rels_pdf, ("rel_id", "old_qt")),
    ):
        for c in cols:
            if c in frame and pd.api.types.is_float_dtype(frame[c]):
                v = frame[c].to_numpy(np.float64)
                nan = np.isnan(v)
                if c != "old_qt" and nan.any():
                    # old_qt goes through pd.isna-aware resolution, but
                    # ids and lon/lat are cast via to_numpy(int64), which
                    # turns NaN into INT64_MIN SILENTLY — a NULL-coord
                    # delete row would poison every way bbox that folds it
                    raise TypeError(
                        f"{c} arrived as float64 with NaN (a nullable "
                        "bigint collected via plain toPandas); collect "
                        "with toArrow().to_pandas(integer_object_nulls="
                        "True) so NULLs surface as objects, not NaN"
                    )
                v = v[~nan]
                if len(v) and np.abs(v).max() >= 2.0**53:
                    raise TypeError(
                        f"{c} arrived as float64 with values beyond the "
                        "exact-integer range (a nullable bigint collected "
                        "via Arrow toPandas); collect with "
                        "toArrow().to_pandas(integer_object_nulls=True)"
                    )

    # ---- way cells: bbox over resolved member locations ------------------
    act_w = ways_pdf[ways_pdf["changetype"] > CT_DELETE]
    if len(act_w):
        counts = act_w["refs"].map(len).to_numpy(np.int64)
        wid = np.repeat(_i64(act_w["way_id"]), counts)
        ref = (
            np.concatenate([np.asarray(r, np.int64) for r in act_w["refs"]])
            if counts.sum()
            else np.zeros(0, np.int64)
        )
    else:
        wid = ref = np.zeros(0, np.int64)
    nidx = pd.Index(_i64(nodes_pdf["node_id"]))
    nlon, nlat = _i64(nodes_pdf["lon"]), _i64(nodes_pdf["lat"])
    li = nidx.get_indexer(ref)
    ok = li >= 0  # missing refs skipped (calcqtsinmem.cpp:262-271 logs+continues)
    n_missing = int((~ok).sum())
    if missing_out is not None:
        # never-silent surface: callers commit this to the run metrics
        missing_out["missing_way_refs"] = n_missing
    if max_missing_refs is not None and n_missing > max_missing_refs:
        # opt-in restatement of the reference's abort (update.cpp:538,
        # 548-556: hard-fail above 10 missing) — a truncated/corrupt .osc.
        # Default stays skip-and-count: change sets that resolve ways from
        # partial refs (context pruned upstream) are a supported shape here
        raise ValueError(
            f"{n_missing} way refs missing from the change map "
            f"(max_missing_refs={max_missing_refs}; the reference aborts "
            "above 10, update.cpp:548-556)"
        )
    located = pd.DataFrame(
        {"w": wid[ok], "lon": nlon[li[ok]], "lat": nlat[li[ok]]}
    )
    bbox = located.groupby("w").agg(
        minx=("lon", "min"), miny=("lat", "min"), maxx=("lon", "max"), maxy=("lat", "max")
    )
    wq_ids = bbox.index.to_numpy(np.int64)
    wq_qt = qtk.calculate(
        _i64(bbox["minx"]), _i64(bbox["miny"]), _i64(bbox["maxx"]), _i64(bbox["maxy"]),
        buffer, max_depth,
    )
    widx = pd.Index(wq_ids)

    # ---- node cells: common() fold over containing ways, point fallback --
    wl = widx.get_indexer(wid)  # every ref of every active way w/ a cell
    wl_qt = _take(wq_qt, wl)
    wok = wl_qt >= 0
    folds = pd.DataFrame({"n": ref[wok], "qt": wl_qt[wok]})
    agg = folds.groupby("n").agg(lo=("qt", "min"), hi=("qt", "max"))
    from_ways_ids = agg.index.to_numpy(np.int64)
    from_ways_qt = qtk.common(_i64(agg["lo"]), _i64(agg["hi"]))
    fmap = pd.Index(from_ways_ids)
    fpos = fmap.get_indexer(nidx.to_numpy())
    n_ct = nodes_pdf["changetype"].to_numpy()
    point_qt = qtk.calculate(nlon, nlat, nlon, nlat, buffer, max_depth)
    node_new = np.where(fpos >= 0, _take(from_ways_qt, fpos), point_qt)
    node_has = (fpos >= 0) | (n_ct > CT_DELETE)

    # ---- relation cells: member LCA + exact 5-pass closure ---------------
    act_r = rels_pdf[rels_pdf["changetype"] > CT_DELETE]
    rel_ids = _i64(act_r["rel_id"]).tolist()
    rel_set = set(rel_ids)
    node_qt_map = {
        int(i): int(q)
        for i, q, h in zip(nidx.to_numpy(), node_new, node_has)
        if h
    }
    way_qt_map = {int(i): int(q) for i, q in zip(wq_ids, wq_qt)}
    has_relrel: dict[int, bool] = {}
    edges: list[tuple[int, int, int]] = []
    # member fold = common(min, max) over located member cells, exactly the
    # column form's min/max + common
    lo: dict[int, int] = {}
    hi: dict[int, int] = {}
    for rid, members in zip(act_r["rel_id"], act_r["members"]):
        rid = int(rid)
        rr = False
        for pos, m in enumerate(members):
            mt, mr = int(m["m_type"]), int(m["m_ref"])
            if mt == 2:
                if mr in rel_set:  # only existing rel members (cpp:171-178)
                    rr = True
                    edges.append((rid, pos, mr))
                continue
            q = node_qt_map.get(mr) if mt == 0 else way_qt_map.get(mr)
            if q is None or q < 0:
                continue
            lo[rid] = q if rid not in lo else min(lo[rid], q)
            hi[rid] = q if rid not in hi else max(hi[rid], q)
        has_relrel[rid] = rr
    cur: dict[int, int] = {}
    for rid in rel_ids:
        if rid in lo:
            cur[rid] = int(qtk.common_scalar(lo[rid], hi[rid]))
        elif not has_relrel.get(rid, False):
            cur[rid] = 0  # no member cell, no rel member (calcqtsinmem.cpp:182-184)
        else:
            cur[rid] = -1
    edges.sort(key=lambda t: (t[0], t[1]))
    for _ in range(5):  # exactly 5 passes (calcqtsinmem.cpp:189-198)
        for parent, _pos, child in edges:
            a = cur[parent]
            b = qtk.common_scalar(a, cur[child])
            if a != b:
                cur[parent] = b
    rel_new = {rid: (q if q >= 0 else 0) for rid, q in cur.items()}

    # ---- resolution CASEs (shared with the distributed path) -------------
    def resolve_pdf(ids, ct, old, new, has_new):
        ids = np.asarray(ids, np.int64)
        ct = np.asarray(ct, np.int64)
        old_list = [None if pd.isna(o) else int(o) for o in old]
        new_list = [int(n) if h else None for n, h in zip(new, has_new)]
        is_new_null = np.asarray([n is None for n in new_list], dtype=bool)
        is_old_null = np.asarray([o is None for o in old_list], dtype=bool)
        eq_old = np.asarray(
            [n is not None and o is not None and n == o
             for n, o in zip(new_list, old_list)],
            dtype=bool,
        )
        # is_old_null mirrors the distributed resolve (and the DuckDB
        # oracle's three-valued `new = old`): a Normal row with no stored
        # cell is dropped on BOTH paths, so the in-mem/distributed gate
        # (queries._UPDATE_INMEM_MAX_ROWS) never flips the result
        drop = ((ct == 0) & (is_new_null | is_old_null | eq_old)) | (
            (ct > CT_REMOVE) & is_new_null
        )
        keep = ~drop
        take_old = np.isin(ct, (CT_DELETE, CT_REMOVE))
        qt = [o if t else n for o, n, t in zip(old_list, new_list, take_old)]
        ctype = np.where(ct == 0, CT_UNCHANGED, ct).astype(np.int64)
        out = pd.DataFrame({"eid": ids, "changetype": ctype})
        out["qt"] = pd.Series(qt, dtype=object)
        return out[["eid", "qt", "changetype"]][keep]

    nodes_out = resolve_pdf(
        nodes_pdf["node_id"], nodes_pdf["changetype"], nodes_pdf["old_qt"],
        node_new, node_has,
    )
    wmap = pd.Index(wq_ids)
    wpos = wmap.get_indexer(_i64(ways_pdf["way_id"]))
    ways_out = resolve_pdf(
        ways_pdf["way_id"], ways_pdf["changetype"], ways_pdf["old_qt"],
        _take(wq_qt, wpos, fill=np.int64(0)), wpos >= 0,
    )
    rels_out = resolve_pdf(
        rels_pdf["rel_id"], rels_pdf["changetype"], rels_pdf["old_qt"],
        [rel_new.get(int(r), 0) for r in rels_pdf["rel_id"]],
        [int(r) in rel_new for r in rels_pdf["rel_id"]],
    )

    def mk(pdf, id_name):
        return spark.createDataFrame(
            pdf.rename(columns={"eid": id_name}),
            f"{id_name} bigint, qt bigint, changetype bigint",
        )

    return {
        "nodes": mk(nodes_out, "node_id"),
        "ways": mk(ways_out, "way_id"),
        "relations": mk(rels_out, "rel_id"),
    }


def dedupe_last_wins(pdf, idc: str):
    """Collapse duplicate change-set ids to the LAST occurrence in
    document order — the reference applies .osc rows in file order into an
    id-keyed map, so the last row wins (update.cpp:539-654). Collect order
    is NOT file order in general (a multi-part parquet scan orders splits
    by size), so the rule requires the parser's captured ``file_pos``
    column (sources/osc.py); duplicates without it are refused rather
    than resolved shuffle-dependently."""
    if not pdf[idc].duplicated().any():
        return pdf
    if "file_pos" not in pdf.columns:
        raise ValueError(
            f"duplicate {idc} without a file_pos column: "
            "last-occurrence-wins is undefined under Spark scan order — "
            "parse via sources/osc.py (which captures document order) or "
            "pre-deduplicate"
        )
    return pdf.sort_values("file_pos", kind="stable").drop_duplicates(
        idc, keep="last"
    )


def missing_refs(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Lazy frame of ways' refs missing from the change map — the
    never-silent surface: queries record its count as the
    ``missing_way_refs`` run metric, and strict callers enforce the
    reference's abort-above-10 policy (update.cpp:538, 548-556) via
    :func:`missing_ref_count` or the twin's ``max_missing_refs``."""
    ct = F.col("changetype")
    pairs = way_node_pairs(ways.filter(ct > CT_DELETE))
    return pairs.join(nodes.select("node_id"), "node_id", "left_anti")


def missing_ref_count(nodes: DataFrame, ways: DataFrame) -> int:
    """Eager count of :func:`missing_refs` for policy enforcement."""
    return missing_refs(nodes, ways).count()


def change_allocs(
    stored: DataFrame,
    elements: DataFrame,
    group_qts: np.ndarray,
) -> DataFrame:
    """Diff-bounded original-tile allocations (element_type, id, alloc).

    ``stored`` is the full old-element cell table (element_type, id, qt) —
    planet-scale; ``elements`` the resolved change rows. The stored table is
    SEMI-JOINED to the change-set ids BEFORE the ``find_tile`` kernel runs,
    so the assign UDF touches O(|change set|) rows per update, not
    O(planet) — the Spark analog of the reference's ``-index.pbf`` prune
    (update.cpp:217-254: only tiles containing affected ids are read).
    The change-set id list is diff-scale by construction (a daily .osc), so
    it broadcasts; the planet-side scan stays a pruned parquet scan and the
    only full-store work is the columnar (element_type, id, qt) read."""
    assign = make_assign_group_udf(stored.sparkSession, group_qts)
    ids = elements.select("element_type", "id")
    bounded = stored.join(F.broadcast(ids), ["element_type", "id"], "leftsemi")
    return bounded.select("element_type", "id", assign(F.col("qt")).alias("alloc"))


def find_change_tiles(
    elements: DataFrame,
    orig_allocs: DataFrame,
    group_qts: np.ndarray,
) -> DataFrame:
    """Route resolved change rows to tiles (update.cpp:656-700).

    ``elements``: (element_type, id, qt, changetype) from calc_change_qts;
    ``orig_allocs``: (element_type, id, alloc) — the tile each element lived
    in (the reference's ``-index.pbf`` side table, update.cpp:115-195);
    ``group_qts``: the sorted group table (find_tile domain).

    Output: (tile_qt, element_type, id, qt, changetype) — survivors in
    their new tile, tombstones (changetype Remove, qt 0) in vacated tiles,
    deletes in their original tile with qt 0. One shuffle (the join) + the
    broadcast assignment kernel; ordering by (tile_qt, element_type, id) is
    the tiled-file write order."""
    assign = make_assign_group_udf(elements.sparkSession, group_qts)
    # three output branches (placed / tombstones / deletes) read this join —
    # materialize once instead of re-running the resolution lineage 3×
    e = cached(elements.join(orig_allocs, ["element_type", "id"], "left"))
    ct = F.col("changetype")

    surv = e.filter(ct > CT_REMOVE).withColumn("tile_qt", assign(F.col("qt")))
    placed = surv.select("tile_qt", "element_type", "id", "qt", "changetype")
    tombstones = surv.filter(
        F.col("alloc").isNotNull() & (F.col("alloc") != F.col("tile_qt"))
    ).select(
        F.col("alloc").alias("tile_qt"),
        "element_type",
        "id",
        F.lit(0).cast("bigint").alias("qt"),
        F.lit(CT_REMOVE).alias("changetype"),
    )
    deletes = e.filter(ct.isin(CT_DELETE, CT_REMOVE) & F.col("alloc").isNotNull()).select(
        F.col("alloc").alias("tile_qt"),
        "element_type",
        "id",
        F.lit(0).cast("bigint").alias("qt"),
        "changetype",
    )
    return placed.unionByName(tombstones).unionByName(deletes)
