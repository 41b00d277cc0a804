"""Quadtree int64 cell-id kernel — the numeric heart of the engine.

Semantics match the reference bit-for-bit (osmquadtree,
/root/reference/src/elements/quadtree.cpp:33-257 and
/root/reference/include/oqt/utils/geometry.hpp:37-53):

* Coordinates are fixed-point int64 at 1e-7 degrees.
* A cell id packs its depth in the low 5 bits (``qt & 31``) and one 2-bit
  digit per level downward from bit 61 (digit i = ``(qt >> (61 - 2*i)) & 3``).
  Numeric int64 order over cell ids == depth-first preorder of the tree,
  which makes LCA-of-a-set computable as ``common(min(S), max(S))``.
* ``calculate`` normalizes lon to [-1,1] (/180) and lat via a scale-90
  Web-Mercator transform (/90), then descends: a box strictly inside a
  quadrant takes that digit; a box that crosses a midline by less than
  ``buffer`` (relative to the current cell) is still pushed down; otherwise
  recursion stops at the current level.

Two implementations, tested against each other:
  * ``*_scalar`` — straight ports used as the test oracle.
  * array functions — vectorized numpy used inside pandas UDFs on executors.

Everything here is pure numpy / stdlib — no Spark imports — so the module is
shippable via ``spark-submit --py-files`` and importable in worker processes.
"""

from __future__ import annotations

import math

import numpy as np

# -- constants ---------------------------------------------------------------

BUFFER_DEFAULT = 0.05  # reference CLI default (oqt_main.cpp:211)
MAX_DEPTH_CLI = 17  # oqt calcqts default (oqt_main.cpp:212)
MAX_DEPTH_INMEM = 18  # in-memory / python-wrapper default (calcqtsinmem.cpp:278)
EARTH_WIDTH = 20037508.342789244  # geometry.hpp:55

PLANET_BBOX = (-1800000000, -900000000, 1800000000, 900000000)

# -- scalar oracle ------------------------------------------------------------


def coordinate_as_integer(v: float) -> int:
    # geometry.hpp:37-42 (round half away from zero)
    if v > 0:
        return int(v * 10000000 + 0.5)
    return int(v * 10000000 - 0.5)


def coordinate_as_float(v: int) -> float:
    return float(v) * 0.0000001


def latitude_mercator(y: float, scale: float = 90.0) -> float:
    # IEEE semantics like the C log(): log(0) = -inf, log(<0) = nan
    t = math.tan(math.pi * (1.0 + y / 90.0) / 4.0)
    if t > 0.0:
        return math.log(t) * scale / math.pi
    return -math.inf if t == 0.0 else math.nan


def latitude_un_mercator(d: float, scale: float = 90.0) -> float:
    return (math.atan(math.exp(d * math.pi / scale)) * 4 / math.pi - 1.0) * 90.0


def _find_quad_scalar(mx: float, my: float, Mx: float, My: float, bf: float) -> int:
    # quadtree.cpp:33-57 — branch order is semantically significant
    if (mx < (-1 - bf)) or (my < (-1 - bf)) or (Mx > (1 + bf)) or (My > (1 + bf)):
        return -1
    if (Mx <= 0) and (my >= 0):
        return 0
    if (mx >= 0) and (my >= 0):
        return 1
    if (Mx <= 0) and (My <= 0):
        return 2
    if (mx >= 0) and (My <= 0):
        return 3
    if (Mx < bf) and (abs(Mx) < abs(mx)) and (my > -bf) and (abs(My) >= abs(my)):
        return 0
    if (mx > -bf) and (abs(Mx) >= abs(mx)) and (my > -bf) and (abs(My) >= abs(my)):
        return 1
    if (Mx < bf) and (abs(Mx) < abs(mx)) and (My < bf) and (abs(My) < abs(my)):
        return 2
    if (mx > -bf) and (abs(Mx) >= abs(mx)) and (My < bf) and (abs(My) < abs(my)):
        return 3
    return -1


def calculate_scalar(
    minx: int,
    miny: int,
    maxx: int,
    maxy: int,
    buffer: float = BUFFER_DEFAULT,
    max_depth: int = MAX_DEPTH_CLI,
) -> int:
    """Scalar oracle for quadtree::calculate (quadtree.cpp:215-221, 59-102)."""
    mx = coordinate_as_float(minx)
    my = coordinate_as_float(miny)
    Mx = coordinate_as_float(maxx)
    My = coordinate_as_float(maxy)
    if (mx > Mx) or (my > My):
        return -1
    if Mx == mx:
        Mx += 0.0000001
    if My == my:
        My += 0.0000001
    my_n = latitude_mercator(my) / 90.0
    My_n = latitude_mercator(My) / 90.0
    mx_n = mx / 180.0
    Mx_n = Mx / 180.0

    acc = 0
    cl = 0
    while cl < max_depth:
        q = _find_quad_scalar(mx_n, my_n, Mx_n, My_n, buffer)
        if q == -1:
            break
        if q in (0, 2):
            mx_n += 0.5
            Mx_n += 0.5
        else:
            mx_n -= 0.5
            Mx_n -= 0.5
        if q in (2, 3):
            my_n += 0.5
            My_n += 0.5
        else:
            my_n -= 0.5
            My_n -= 0.5
        acc += (q << (61 - 2 * cl)) + 1
        mx_n *= 2.0
        my_n *= 2.0
        Mx_n *= 2.0
        My_n *= 2.0
        cl += 1
    return acc


def round_scalar(qt: int, level: int) -> int:
    # quadtree.cpp:180-187
    if (qt & 31) < level:
        return qt
    qt >>= 63 - 2 * level
    qt <<= 63 - 2 * level
    return qt + level


def common_scalar(qt: int, other: int) -> int:
    # quadtree.cpp:189-213
    if qt == -1:
        return other
    if other == -1:
        return qt
    if qt == other:
        return qt
    d = qt & 31
    if (other & 31) < d:
        d = other & 31
    p = 0
    for i in range(d):
        q = round_scalar(qt, i + 1)
        if q != round_scalar(other, i + 1):
            return p
        p = q
    return p


def string_scalar(qt: int) -> str:
    # quadtree.cpp:105-119
    if qt <= -1:
        return "NULL"
    level = qt & 31
    return "".join(chr(((qt >> (61 - 2 * i)) & 3) + ord("A")) for i in range(level))


def from_string_scalar(s: str) -> int:
    # quadtree.cpp:236-257
    ans = 0
    for i, ch in enumerate(s):
        p = {"A": 0, "B": 1, "C": 2, "D": 3}.get(ch)
        if p is None:
            return 0
        ans |= p << (61 - 2 * i)
    ans |= len(s)
    return ans


def tuple_scalar(qt: int) -> tuple[int, int, int]:
    # quadtree.cpp:161-177
    z = qt & 31
    x = 0
    y = 0
    for i in range(z):
        x <<= 1
        y <<= 1
        t = (qt >> (61 - 2 * i)) & 3
        if t & 1:
            x |= 1
        if t & 2:
            y |= 1
    return x, y, z


def from_tuple_scalar(x: int, y: int, z: int) -> int:
    # quadtree.cpp:223-234
    ans = 0
    scale = 1
    for i in range(z):
        ans += (((x >> i) & 1) | (((y >> i) & 1) << 1)) * scale
        scale *= 4
    ans <<= 63 - 2 * z
    ans |= z
    return ans


def bbox_scalar(qt: int, buffer: float = 0.0) -> tuple[int, int, int, int]:
    """Cell bbox in fixed-point int64 (quadtree.cpp:121-159)."""
    mx, my, Mx, My = -180.0, -90.0, 180.0, 90.0
    level = qt & 31
    for i in range(level):
        v = (qt >> (61 - 2 * i)) & 3
        if v in (0, 2):
            Mx -= (Mx - mx) / 2
        else:
            mx += (Mx - mx) / 2
        if v in (2, 3):
            My -= (My - my) / 2
        else:
            my += (My - my) / 2
    my = latitude_un_mercator(my)
    My = latitude_un_mercator(My)
    if buffer > 0.0:
        xx = (Mx - mx) * buffer
        yy = (My - my) * buffer
        mx -= xx
        my -= yy
        Mx += xx
        My += yy
    return (
        coordinate_as_integer(mx),
        coordinate_as_integer(my),
        coordinate_as_integer(Mx),
        coordinate_as_integer(My),
    )


# -- vectorized numpy kernels --------------------------------------------------


def _as_i64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int64)


def calculate(
    minx,
    miny,
    maxx,
    maxy,
    buffer: float = BUFFER_DEFAULT,
    max_depth: int = MAX_DEPTH_CLI,
) -> np.ndarray:
    """Vectorized quadtree::calculate over int64 fixed-point bbox arrays.

    Identical float64 arithmetic to ``calculate_scalar`` (element-wise IEEE
    ops, same libm log/tan), so results are bit-equal.
    """
    minx = _as_i64(minx)
    miny = _as_i64(miny)
    maxx = _as_i64(maxx)
    maxy = _as_i64(maxy)

    # cache-block: the depth loop touches ~25 same-length temporaries per
    # level (abs/compare/select/where), ≈3.4 KB of traffic per row over 17
    # levels — on full-length arrays that runs at DRAM speed and stops
    # scaling across cores (shared memory bus). Chunks sized to stay in the
    # per-core L2 make the loop compute-bound; results are element-wise
    # identical.
    n = minx.shape[0] if minx.ndim else 1
    CHUNK = 32768
    if n > CHUNK:
        out = np.empty(n, dtype=np.int64)
        for s in range(0, n, CHUNK):
            e = min(s + CHUNK, n)
            out[s:e] = calculate(
                minx[s:e], miny[s:e], maxx[s:e], maxy[s:e], buffer, max_depth
            )
        return out

    mx = minx * 0.0000001
    my = miny * 0.0000001
    Mx = maxx * 0.0000001
    My = maxy * 0.0000001

    invalid = (mx > Mx) | (my > My)
    Mx = np.where(Mx == mx, Mx + 0.0000001, Mx)
    My = np.where(My == my, My + 0.0000001, My)

    # mercator-normalize (scale 90 then /90, lon /180); out-of-range lat may
    # produce nan/inf exactly like the C++ log(tan(...)) would.
    # libm note: numpy's SIMD float64 tan/log differ from glibc by 1 ulp on
    # ~40% of inputs (measured; see multipolygons._tan_glibc, where the
    # centroid fold's CANCELLATION amplified that to a driver-gate flip and
    # forced a glibc pin). Here there is no cancellation — the merc value is
    # grid-quantized directly — so a flip needs a coordinate within ~1 ulp
    # of a cell boundary (~1e-11/row odds vs the DuckDB ln/tan oracle; qt
    # cells measured EQ at sf0.001/0.01/0.1 = 672k rows). np.tan/log stay:
    # a per-element glibc loop would cost ~0.36 s/M vertices on the 10^12
    # design point's hottest kernel for a hazard the gates bound at ~1e-11.
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        my = np.log(np.tan(np.pi * (1.0 + my / 90.0) / 4.0)) / np.pi
        My = np.log(np.tan(np.pi * (1.0 + My / 90.0) / 4.0)) / np.pi
    mx = mx / 180.0
    Mx = Mx / 180.0

    bf = buffer
    acc = np.zeros(minx.shape, dtype=np.int64)
    active = ~invalid

    for cl in range(max_depth):
        if not active.any():
            break
        amx, amy, aMx, aMy = np.abs(mx), np.abs(my), np.abs(Mx), np.abs(My)
        out_of_range = (mx < (-1 - bf)) | (my < (-1 - bf)) | (Mx > (1 + bf)) | (My > (1 + bf))
        # branch chain of findQuad (quadtree.cpp:38-55); np.select keeps order
        q = np.select(
            [
                out_of_range,
                (Mx <= 0) & (my >= 0),
                (mx >= 0) & (my >= 0),
                (Mx <= 0) & (My <= 0),
                (mx >= 0) & (My <= 0),
                (Mx < bf) & (aMx < amx) & (my > -bf) & (aMy >= amy),
                (mx > -bf) & (aMx >= amx) & (my > -bf) & (aMy >= amy),
                (Mx < bf) & (aMx < amx) & (My < bf) & (aMy < amy),
                (mx > -bf) & (aMx >= amx) & (My < bf) & (aMy < amy),
            ],
            [-1, 0, 1, 2, 3, 0, 1, 2, 3],
            default=-1,
        )
        step = active & (q != -1)
        if not step.any():
            break
        acc = np.where(step, acc + (q.astype(np.int64) << np.int64(61 - 2 * cl)) + 1, acc)
        dx = np.where((q == 0) | (q == 2), 0.5, -0.5)
        dy = np.where((q == 2) | (q == 3), 0.5, -0.5)
        mx = np.where(step, (mx + dx) * 2.0, mx)
        Mx = np.where(step, (Mx + dx) * 2.0, Mx)
        my = np.where(step, (my + dy) * 2.0, my)
        My = np.where(step, (My + dy) * 2.0, My)
        active = step

    return np.where(invalid, np.int64(-1), acc)


def round_qt(qt, level: int) -> np.ndarray:
    """Vectorized quadtree::round (quadtree.cpp:180-187)."""
    qt = _as_i64(qt)
    sh = np.int64(63 - 2 * level)
    rounded = ((qt >> sh) << sh) + np.int64(level)
    return np.where((qt & 31) < level, qt, rounded)


def depth(qt) -> np.ndarray:
    return _as_i64(qt) & np.int64(31)


def common(qt, other) -> np.ndarray:
    """Vectorized quadtree::common — LCA of two cell ids (quadtree.cpp:189-213).

    Closed form: strip to the shallower depth, xor the path bits; the number
    of leading equal 2-bit digits gives the LCA level. Verified element-wise
    against ``common_scalar`` in tests.
    """
    a = _as_i64(qt)
    b = _as_i64(other)
    da = a & 31
    db = b & 31
    d = np.minimum(da, db)
    y = (a ^ b) >> (np.int64(63) - 2 * d)  # top 2d bits hold both paths; depth bits shifted out
    # bit_length via frexp: y < 2^36 so float64 is exact
    _, exp = np.frexp(y.astype(np.float64))
    bl = exp.astype(np.int64)  # bit_length(y); 0 when y == 0
    first_diff = d - 1 - ((bl - 1) >> 1)  # index of first differing digit
    lvl = np.where(y == 0, d, first_diff)
    # round to lvl (vector level): inline round with per-element level
    sh = np.int64(63) - 2 * lvl
    res = ((a >> sh) << sh) + lvl
    res = np.where(a == b, a, res)
    res = np.where(a == -1, b, np.where(b == -1, a, res))
    return res


def is_ancestor(anc, qt) -> np.ndarray:
    """True where ``anc`` is an ancestor-or-equal cell of ``qt``."""
    anc = _as_i64(anc)
    qt = _as_i64(qt)
    la = anc & 31
    sh = np.int64(63) - 2 * la
    return ((anc & 31) <= (qt & 31)) & (((qt >> sh) << sh) + la == anc)


def bbox_arr(qt, buffer: float = 0.0):
    """Vectorized quadtree::bbox → (minx, miny, maxx, maxy) int64 arrays."""
    qt = _as_i64(qt)
    n = qt.shape
    mx = np.full(n, -180.0)
    my = np.full(n, -90.0)
    Mx = np.full(n, 180.0)
    My = np.full(n, 90.0)
    lv = qt & 31
    maxl = int(lv.max()) if qt.size else 0
    for i in range(maxl):
        on = lv > i
        v = (qt >> np.int64(61 - 2 * i)) & 3
        west = (v == 0) | (v == 2)
        south = (v == 2) | (v == 3)
        midx = mx + (Mx - mx) / 2
        midy = my + (My - my) / 2
        Mx = np.where(on & west, Mx - (Mx - mx) / 2, Mx)
        mx = np.where(on & ~west, midx, mx)
        My = np.where(on & south, My - (My - my) / 2, My)
        my = np.where(on & ~south, midy, my)
    my = (np.arctan(np.exp(my * np.pi / 90.0)) * 4 / np.pi - 1.0) * 90.0
    My = (np.arctan(np.exp(My * np.pi / 90.0)) * 4 / np.pi - 1.0) * 90.0
    if buffer > 0.0:
        xx = (Mx - mx) * buffer
        yy = (My - my) * buffer
        mx = mx - xx
        my = my - yy
        Mx = Mx + xx
        My = My + yy

    def as_int(v):
        return np.where(v > 0, (v * 10000000 + 0.5), (v * 10000000 - 0.5)).astype(np.int64)

    return as_int(mx), as_int(my), as_int(Mx), as_int(My)


def tuple_arr(qt):
    """Vectorized quadtree::tuple → (x, y, z) arrays (quadtree.cpp:161-177)."""
    qt = _as_i64(qt)
    z = qt & 31
    x = np.zeros_like(qt)
    y = np.zeros_like(qt)
    maxl = int(z.max()) if qt.size else 0
    for i in range(maxl):
        on = z > i
        t = (qt >> np.int64(61 - 2 * i)) & 3
        x = np.where(on, (x << 1) | (t & 1), x)
        y = np.where(on, (y << 1) | ((t >> 1) & 1), y)
    return x, y, z


def from_tuple_arr(x, y, z):
    """Vectorized quadtree::from_tuple (quadtree.cpp:223-234)."""
    x = _as_i64(x)
    y = _as_i64(y)
    z = _as_i64(z)
    ans = np.zeros_like(x)
    maxl = int(z.max()) if z.size else 0
    for i in range(maxl):
        on = z > i
        digit = ((x >> np.int64(i)) & 1) | (((y >> np.int64(i)) & 1) << 1)
        ans = np.where(on, ans + (digit << np.int64(2 * i)), ans)
    ans = ans << (np.int64(63) - 2 * z)
    return ans | z


def cell_mercator_box(qt):
    """Vectorized cell bounds in *normalized mercator* planet units
    (x = lon/180, y = mercator(lat)/90, both in [-1, 1]).

    This is the space ``calculate`` descends in, so it carries the engine's
    *sound* pruning invariant: every box assigned cell q lies within q's
    mercator box expanded by ``buffer * 2**(1-depth(q))`` per side: the findQuad
    straddle rules (quadtree.cpp:47-54) admit a crossing of up to ``buffer``
    in the *parent* cell's [-1,1] normalization when the final digit is
    chosen, i.e. ``buffer * 2**(1-depth)`` planet units past the child edge;
    deeper descent of an overhanging box is stopped by the straddle/out-of-
    range conditions.
    The reference's degree-space ``bbox(qt, 0.05)`` (used by its
    overlaps_quadtree prune, quadtree.cpp:259-262) does NOT guarantee this at
    extreme latitudes — tested in test_quadtree_kernel.py.
    """
    qt = _as_i64(qt)
    x0 = np.full(qt.shape, -1.0)
    y0 = np.full(qt.shape, -1.0)
    x1 = np.full(qt.shape, 1.0)
    y1 = np.full(qt.shape, 1.0)
    lv = qt & 31
    maxl = int(lv.max()) if qt.size else 0
    for i in range(maxl):
        on = lv > i
        v = (qt >> np.int64(61 - 2 * i)) & 3
        west = (v == 0) | (v == 2)
        south = (v == 2) | (v == 3)
        midx = (x0 + x1) / 2
        midy = (y0 + y1) / 2
        x1 = np.where(on & west, midx, x1)
        x0 = np.where(on & ~west, midx, x0)
        y1 = np.where(on & south, midy, y1)
        y0 = np.where(on & ~south, midy, y0)
    return x0, y0, x1, y1


def tiles_overlapping_box(tile_qts, minx, miny, maxx, maxy, buffer: float = BUFFER_DEFAULT):
    """Boolean mask: which tiles may contain elements overlapping the query
    box (fixed-point int64 degrees). Sound under the mercator invariant of
    :func:`cell_mercator_box`; used for partition pruning before exact
    row-level filters."""
    tile_qts = _as_i64(tile_qts)
    x0, y0, x1, y1 = cell_mercator_box(tile_qts)
    slop = buffer * np.power(2.0, 1.0 - (tile_qts & 31).astype(np.float64))
    # tiny epsilon guards float rounding of the query-box transform
    eps = 1e-12
    qx0 = coordinate_as_float(minx) / 180.0 - eps
    qx1 = coordinate_as_float(maxx) / 180.0 + eps
    qy0 = latitude_mercator(max(coordinate_as_float(miny), -89.9999999)) / 90.0 - eps
    qy1 = latitude_mercator(min(coordinate_as_float(maxy), 89.9999999)) / 90.0 + eps
    return (
        (x0 - slop <= qx1)
        & (x1 + slop >= qx0)
        & (y0 - slop <= qy1)
        & (y1 + slop >= qy0)
    )
