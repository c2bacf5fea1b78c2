"""General polygon boolean operations (intersection/union/difference/xor).

Clean-room implementation of the Martinez–Rueda–Feito sweep-line algorithm
("A new algorithm for computing Boolean operations on polygons", Computers &
Geosciences 35, 2009) — the same algorithm family GEOS uses for overlay.
Chosen over Greiner–Hormann because it handles the degenerate cases our
integer-grid fixtures are full of: shared edges, vertex-on-edge touching,
identical rings. The sweep is used only as a noder (``_node``, shared by
``boolean_op`` and the N-way ``union_many``): membership probes against
the inputs pick and orient the result's edges (``_trace_result``), so the
paper's per-edge in/out flags are not kept.

This is the per-pair slow path used inside Arrow-batched pandas UDFs; the
vectorized bbox prefilter in callers (algos.intersection / operators.overlay)
keeps it off the hot path for disjoint pairs.

Reference parity target: geopandas/base.py:4405-4879 (difference /
symmetric_difference / union / intersection) and geopandas/tools/overlay.py.
Results are polygonal-only: touching-only intersections return [] (the
reference returns lower-dimensional collections; our overlay applies
keep_geom_type anyway — documented deviation).

Input: a polygon = list of rings, each an (n,2) float64 array (closed or
open, any orientation; ring 0 + holes + further parts all flattened into one
ring list — even-odd parity makes orientation and nesting irrelevant).
Output: list of polygons, each a list of rings [shell(CCW), hole(CW), ...].
"""

from __future__ import annotations

import heapq

import numpy as np

INTERSECTION = 0
UNION = 1
DIFFERENCE = 2
XOR = 3


class _SweepEvent:
    __slots__ = ("point", "left", "other", "is_subject")

    def __init__(self, point, left, other, is_subject):
        self.point = point
        self.left = left
        self.other = other
        self.is_subject = is_subject

    def __lt__(self, o) -> bool:  # heapq ordering
        return _compare_events(self, o) < 0


def _compare_events(e1, e2) -> int:
    """Queue order: by x, then y; right endpoints before left; bottom edge
    first; subject before clipping. is_subject may be a bool (2-op) or a
    polygon id int (union_many) — higher sorts first either way, matching
    the original subject-before-clipping boolean behavior.

    The signed-area test "e1 lies below e2.other.point" is inlined (hot
    path: every queue pop and status probe funnels here)."""
    p1, p2 = e1.point, e2.point
    x1, x2 = p1[0], p2[0]
    if x1 != x2:
        return 1 if x1 > x2 else -1
    y1, y2 = p1[1], p2[1]
    if y1 != y2:
        return 1 if y1 > y2 else -1
    if e1.left != e2.left:
        return 1 if e1.left else -1
    o1, o2 = e1.other.point, e2.other.point
    o2x, o2y = o2[0], o2[1]
    sa = (x1 - o2x) * (o1[1] - o2y) - (o1[0] - o2x) * (y1 - o2y)
    if sa != 0:
        below = sa > 0 if e1.left else sa < 0
        return 1 if not below else -1
    return -1 if e1.is_subject >= e2.is_subject else 1


def _compare_segments(le1, le2) -> int:
    """Sweep-line (status) order: which segment is below at the sweep
    position. The signed-area below/above tests are inlined — this is
    the status insert/remove comparator, the single hottest call site of
    the sweep. A segment "is below" point p when the signed area of
    (point, other.point, p) is positive for a left event (negative for a
    right one)."""
    if le1 is le2:
        return 0
    p1, o1 = le1.point, le1.other.point
    p2, o2 = le2.point, le2.other.point
    p1x, p1y = p1[0], p1[1]
    o1x, o1y = o1[0], o1[1]
    p2x, p2y = p2[0], p2[1]
    o2x, o2y = o2[0], o2[1]
    sa_p2 = (p1x - p2x) * (o1y - p2y) - (o1x - p2x) * (p1y - p2y)
    sa_o2 = (p1x - o2x) * (o1y - o2y) - (o1x - o2x) * (p1y - o2y)
    if sa_p2 != 0 or sa_o2 != 0:
        # not collinear
        if p1x == p2x and p1y == p2y:
            # le1 below le2.other.point
            return -1 if (sa_o2 > 0 if le1.left else sa_o2 < 0) else 1
        if p1x == p2x:
            return -1 if p1y < p2y else 1
        if _compare_events(le1, le2) == 1:
            # le2 above le1.point
            sb = (p2x - p1x) * (o2y - p1y) - (o2x - p1x) * (p2y - p1y)
            return -1 if not (sb > 0 if le2.left else sb < 0) else 1
        # le1 below le2.point
        return -1 if (sa_p2 > 0 if le1.left else sa_p2 < 0) else 1
    # collinear
    if le1.is_subject == le2.is_subject:
        if le1.point == le2.point:
            if le1.other.point == le2.other.point:
                return 0
            return -1 if id(le1) < id(le2) else 1
    else:
        return -1 if le1.is_subject > le2.is_subject else 1
    return 1 if _compare_events(le1, le2) == 1 else -1


def _segment_intersection(a1, a2, b1, b2):
    """0, 1 or 2 intersection points of two closed segments.

    Exact for grid-aligned inputs; standard parametric computation
    otherwise. Returns a (possibly empty) list of points.
    """
    vax, vay = a2[0] - a1[0], a2[1] - a1[1]
    vbx, vby = b2[0] - b1[0], b2[1] - b1[1]
    ex, ey = b1[0] - a1[0], b1[1] - a1[1]
    kross = vax * vby - vay * vbx
    if kross != 0.0:
        s = (ex * vby - ey * vbx) / kross
        if s < 0.0 or s > 1.0:
            return []
        t = (ex * vay - ey * vax) / kross
        if t < 0.0 or t > 1.0:
            return []
        if s == 0.0:
            return [a1]
        if s == 1.0:
            return [a2]
        if t == 0.0:
            return [b1]
        if t == 1.0:
            return [b2]
        px, py = a1[0] + s * vax, a1[1] + s * vay
        # axis-aligned segments pin their constant coordinate exactly —
        # the parametric form loses it ((13/23)*23 != 13 in doubles),
        # and boolean ops on integer grids must stay bit-exact
        if vax == 0.0:
            px = a1[0]
        elif vbx == 0.0:
            px = b1[0]
        if vay == 0.0:
            py = a1[1]
        elif vby == 0.0:
            py = b1[1]
        # endpoint snap: when one segment passes (exactly, in the
        # underlying rationals) through the other's VERTEX, the
        # parametric point lands an ulp off that vertex; splitting
        # there seeds ulp-twin events whose ordering breaks sweep-
        # status transitivity, after which later crossings are missed
        # entirely (r10 enclosed-oracle find: DIFFERENCE dropped a
        # whole region; the kernel returned empty for a sliver minus a
        # triangle whose edge ran through the sliver's vertex)
        mag = max(abs(px), abs(py), 1.0)
        eps = 1e-13 * mag
        for e_ in (a1, a2, b1, b2):
            if abs(px - e_[0]) <= eps and abs(py - e_[1]) <= eps:
                return [e_]
        return [(px, py)]
    # parallel
    if ex * vay - ey * vax != 0.0:
        return []
    # collinear: project b's endpoints onto a's parameter space
    den = vax * vax + vay * vay
    if den == 0.0:
        # a is a degenerate point
        if (a1 == b1 or a1 == b2 or
                (min(b1[0], b2[0]) <= a1[0] <= max(b1[0], b2[0]) and
                 min(b1[1], b2[1]) <= a1[1] <= max(b1[1], b2[1]) and
                 (b2[0] - b1[0]) * (a1[1] - b1[1]) ==
                 (b2[1] - b1[1]) * (a1[0] - b1[0]))):
            return [a1]
        return []
    s0 = (ex * vax + ey * vay) / den
    s1 = s0 + (vbx * vax + vby * vay) / den
    smin, smax = (s0, s1) if s0 <= s1 else (s1, s0)
    lo, hi = max(0.0, smin), min(1.0, smax)
    if lo > hi:
        return []

    def _pt(s):
        if s == 0.0:
            return a1
        if s == 1.0:
            return a2
        if s == s0:
            return b1
        if s == s1:
            return b2
        return (a1[0] + s * vax, a1[1] + s * vay)

    if lo == hi:
        return [_pt(lo)]
    return [_pt(lo), _pt(hi)]


class _SweepLine:
    """Status structure: sorted list + binary search with _compare_segments.

    O(n) insert/remove; per-pair polygons are small so this beats the
    constant factor of a Python balanced tree.
    """

    __slots__ = ("items",)

    def __init__(self):
        self.items = []

    def insert(self, ev) -> int:
        lo, hi = 0, len(self.items)
        while lo < hi:
            mid = (lo + hi) // 2
            if _compare_segments(self.items[mid], ev) < 0:
                lo = mid + 1
            else:
                hi = mid
        self.items.insert(lo, ev)
        return lo

    def index(self, ev) -> int:
        for k, it in enumerate(self.items):
            if it is ev:
                return k
        return -1

    def remove(self, ev):
        k = self.index(ev)
        if k >= 0:
            del self.items[k]
        return k


def _divide_segment(se, p, queue):
    """Split edge se—se.other at interior point p; push the two new events.

    A split at (numerically) an endpoint is a no-op: the parametric
    intersection can return a point ~1e-13 off an endpoint (s tiny but
    not exactly 0), and splitting there creates a micro-fragment whose
    re-intersections propose the same split again — an infinite loop
    (caught on a 174-piece dilation union). Fragments that tiny are far
    below the tracer's 1e-9 canonicalization quantum anyway."""
    a, b2 = se.point, se.other.point
    mag = max(abs(a[0]), abs(a[1]), abs(b2[0]), abs(b2[1]), 1.0)
    eps = 1e-13 * mag
    if ((abs(p[0] - a[0]) <= eps and abs(p[1] - a[1]) <= eps) or
            (abs(p[0] - b2[0]) <= eps and abs(p[1] - b2[1]) <= eps)):
        return
    r = _SweepEvent(p, False, se, se.is_subject)
    l = _SweepEvent(p, True, se.other, se.is_subject)
    if _compare_events(l, se.other) > 0:  # fp rounding guard (degenerate split)
        se.other.left = True
        l.left = False
    se.other.other = l
    se.other = r
    queue.push(l)
    queue.push(r)


def _possible_intersection(se1, se2, queue) -> int:
    p1, q1 = se1.point, se1.other.point
    p2, q2 = se2.point, se2.other.point
    # strict bbox reject: adjacent status segments usually overlap in x
    # but not in y — skip the whole cascade/intersection machinery when
    # the boxes are strictly disjoint (touching boxes fall through).
    # Conditionals instead of builtin min/max: 8 function calls per
    # probe x ~3 probes per event added up to ~15% of the sweep.
    a, b = p1[1], q1[1]
    if a > b:
        a, b = b, a
    c, d = p2[1], q2[1]
    if c > d:
        c, d = d, c
    if a > d or c > b:
        return 0
    a, b = p1[0], q1[0]
    if a > b:
        a, b = b, a
    c, d = p2[0], q2[0]
    if c > d:
        c, d = d, c
    if a > d or c > b:
        return 0
    if (p1 == p2) != (q1 == q2):
        # cascade robustness: when one op's output feeds another, a
        # previously-computed crossing vertex can sit an ulp OFF the
        # exactly-collinear line of the original (un-noded) edge. The
        # exact collinear-overlap branch then never fires and the long
        # edge crosses the region unsplit (hypothesis-found via
        # (A∪B)∪A). If two edges share exactly one endpoint and the
        # shorter's free endpoint lies within 1e-9 of the longer's line
        # (the same quantum as the tracer's vertex canonicalization),
        # split the longer there.
        free1 = q1 if p1 == p2 else p1
        free2 = q2 if p1 == p2 else p2
        v1x, v1y = q1[0] - p1[0], q1[1] - p1[1]
        v2x, v2y = q2[0] - p2[0], q2[1] - p2[1]
        l1sq = v1x * v1x + v1y * v1y
        l2sq = v2x * v2x + v2y * v2y
        if l1sq > 0.0 and l2sq > 0.0:
            if l1sq >= l2sq:
                longe, fp = se1, free2
                ax, ay, vx, vy, lsq = p1[0], p1[1], v1x, v1y, l1sq
            else:
                longe, fp = se2, free1
                ax, ay, vx, vy, lsq = p2[0], p2[1], v2x, v2y, l2sq
            ln = lsq ** 0.5
            area2 = abs(vx * (fp[1] - ay) - vy * (fp[0] - ax))
            # handle ulp-off collinearity here; EXACT collinearity (both
            # area2 and the direction cross zero) defers to the exact
            # overlap branch below — EXCEPT the mixed-rounding case where
            # the vertex sits exactly on the line but the differently-
            # rounded direction cross is nonzero, which would otherwise
            # fall between the two branches (hypothesis-found).
            # The off-line tolerance is RELATIVE to coordinate magnitude
            # (~1000 ulps): an absolute 1e-9 misfired on genuinely-tiny
            # wedge features (0.05-long chord edges 2.6e-10 apart in a
            # dense dilation union are REAL geometry, 1e5 ulps wide).
            kross = v1x * v2y - v1y * v2x
            mag = max(abs(ax), abs(ay), abs(fp[0]), abs(fp[1]), 1.0)
            tol = 1e-13 * mag
            if 0.0 < area2 / ln < tol or (area2 == 0.0 and kross != 0.0):
                t = ((fp[0] - ax) * vx + (fp[1] - ay) * vy) / lsq
                # the split point must clear the canonicalization quantum
                # on both sides, or subdivision makes no progress and the
                # sweep loops on ulp-apart fragments
                if 1e-9 < t * ln and 1e-9 < (1.0 - t) * ln:
                    _divide_segment(longe, fp, queue)
                    return 1
    elif p1 != p2 and q1 != q2:
        # same hazard with NO shared endpoint: both edges are fragments
        # of the same original line, re-noded in different ops with
        # ulp-different endpoints. If both endpoints of the shorter lie
        # within the canonicalization quantum of the longer's line (but
        # not exactly on it), split the longer at the first interior one;
        # the halves then share an endpoint and converge via the branch
        # above.
        v1x, v1y = q1[0] - p1[0], q1[1] - p1[1]
        v2x, v2y = q2[0] - p2[0], q2[1] - p2[1]
        l1sq = v1x * v1x + v1y * v1y
        l2sq = v2x * v2x + v2y * v2y
        if l1sq > 0.0 and l2sq > 0.0:
            if l1sq >= l2sq:
                longe = se1
                ax, ay, vx, vy, lsq = p1[0], p1[1], v1x, v1y, l1sq
                cands = (p2, q2)
            else:
                longe = se2
                ax, ay, vx, vy, lsq = p2[0], p2[1], v2x, v2y, l2sq
                cands = (p1, q1)
            ln = lsq ** 0.5
            d0 = abs(vx * (cands[0][1] - ay) - vy * (cands[0][0] - ax)) / ln
            d1 = abs(vx * (cands[1][1] - ay) - vy * (cands[1][0] - ax)) / ln
            kross = v1x * v2y - v1y * v2x
            mag = max(abs(ax), abs(ay), abs(cands[0][0]), abs(cands[0][1]),
                      abs(cands[1][0]), abs(cands[1][1]), 1.0)
            tol = 1e-13 * mag
            if (0.0 < max(d0, d1) < tol
                    or (max(d0, d1) == 0.0 and kross != 0.0)):
                for fp in cands:
                    t = ((fp[0] - ax) * vx + (fp[1] - ay) * vy) / lsq
                    if 1e-9 < t * ln and 1e-9 < (1.0 - t) * ln:
                        _divide_segment(longe, fp, queue)
                        return 1
    pts = _segment_intersection(se1.point, se1.other.point,
                                se2.point, se2.other.point)
    if not pts:
        # ulp-level T-junction (hypothesis-found via the duplicated-
        # operand pairwise tree): a NODED endpoint of one segment lies
        # exactly ON the other segment's interior in real arithmetic —
        # an earlier op computed that vertex as a crossing on the same
        # original line the other fragment comes from — but the
        # parametric test misses by an ulp (s or t marginally outside
        # [0,1]). Non-collinear, so neither cascade branch above
        # applies. Split the crossed segment at the vertex when it is
        # within the canonicalization quantum of its line and clears
        # the 1e-9 progress bound on both sides.
        for sa, sb in ((se1, se2), (se2, se1)):
            a, b2 = sb.point, sb.other.point
            vx, vy = b2[0] - a[0], b2[1] - a[1]
            lsq = vx * vx + vy * vy
            if lsq <= 0.0:
                continue
            ln = lsq ** 0.5
            for fp in (sa.point, sa.other.point):
                area2 = abs(vx * (fp[1] - a[1]) - vy * (fp[0] - a[0]))
                mag = max(abs(a[0]), abs(a[1]),
                          abs(fp[0]), abs(fp[1]), 1.0)
                # area2 == 0.0 included: a vertex EXACTLY on the line
                # (it was computed as a crossing on this very line) with
                # the parametric s an ulp outside [0,1] is the canonical
                # miss; the 1e-9 progress bounds exclude endpoints
                if area2 / ln < 1e-13 * mag:
                    t = ((fp[0] - a[0]) * vx + (fp[1] - a[1]) * vy) / lsq
                    if 1e-9 < t * ln and 1e-9 < (1.0 - t) * ln:
                        _divide_segment(sb, fp, queue)
                        return 1
        return 0
    if (len(pts) == 1 and (se1.point == se2.point or
                           se1.other.point == se2.other.point)):
        return 0  # meet at a common endpoint only
    # NOTE: same-side collinear overlaps are processed like cross-side
    # ones (splits aligned). They arise legitimately from the
    # near-collinear cascade splits above (a fragment re-aligned onto a
    # sibling fragment of the same operand); the probe-based tracer then
    # classifies the doubled edge by its side membership, which is
    # exactly even-odd semantics. (This branch used to raise "invalid
    # input", which aborted whole unions.)
    if len(pts) == 1:
        p = pts[0]
        if se1.point != p and se1.other.point != p:
            _divide_segment(se1, p, queue)
        if se2.point != p and se2.other.point != p:
            _divide_segment(se2, p, queue)
        return 1
    # overlapping collinear edges from different polygons
    events = []
    left_coincide = se1.point == se2.point
    right_coincide = se1.other.point == se2.other.point
    if not left_coincide:
        if _compare_events(se1, se2) > 0:
            events.extend((se2, se1))
        else:
            events.extend((se1, se2))
    if not right_coincide:
        if _compare_events(se1.other, se2.other) > 0:
            events.extend((se2.other, se1.other))
        else:
            events.extend((se1.other, se2.other))
    if left_coincide:
        if not right_coincide:
            _divide_segment(events[1].other, events[0].point, queue)
        return 2
    if right_coincide:
        _divide_segment(events[0], events[1].point, queue)
        return 3
    if events[0] is not events[3].other:
        _divide_segment(events[0], events[1].point, queue)
        _divide_segment(events[1], events[2].point, queue)
        return 3
    _divide_segment(events[0], events[1].point, queue)
    _divide_segment(events[3].other, events[2].point, queue)
    return 3


def _rings_to_events(rings, is_subject, events):
    """Create the two endpoint events per segment, appending to ``events``
    (a plain list — ordering happens once, vectorized, in _EventStream)."""
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        n = len(ring)
        if n and ring[0][0] == ring[-1][0] and ring[0][1] == ring[-1][1]:
            n -= 1  # drop duplicate closing vertex
        if n < 3:
            continue
        # bulk-convert once: per-element numpy scalar indexing + float()
        # was ~60% of event-building time on a 24k-box union
        pts = [(c[0], c[1]) for c in ring[:n].tolist()]
        pts.append(pts[0])
        for k in range(n):
            p1 = pts[k]
            p2 = pts[k + 1]
            if p1 == p2:
                continue
            e1 = _SweepEvent(p1, False, None, is_subject)
            e2 = _SweepEvent(p2, False, e1, is_subject)
            e1.other = e2
            if (p1, p2) < ((p2, p1)):
                e1.left = True
            else:
                e2.left = True
            events.append(e1)
            events.append(e2)


class _EventStream:
    """Priority stream of sweep events: the initial (ring-endpoint)
    events are sorted ONCE with a vectorized numpy lexsort, and only the
    few split-created events go through a heap. The r3/r4 profile showed
    heappop + per-comparison _compare_events dominating the whole sweep
    (4.5M Python comparisons on a 24k-box union); with presorting, each
    pop costs at most ONE comparator call (merge against the heap top).

    The lexsort uses the comparator's first three keys (x, y,
    right-before-left) exactly; events tying on all three (vertex fans)
    are re-sorted per run with the exact comparator, so stream order ==
    comparator order everywhere the comparator is consistent."""

    __slots__ = ("arr", "i", "heap")

    def __init__(self, events):
        n = len(events)
        px = np.empty(n)
        py = np.empty(n)
        left = np.empty(n, dtype=np.int8)
        for k, e in enumerate(events):
            px[k] = e.point[0]
            py[k] = e.point[1]
            left[k] = e.left
        order = np.lexsort((left, py, px))
        arr = [events[k] for k in order]
        pxs, pys, lfs = px[order], py[order], left[order]
        same = np.zeros(n, dtype=bool)
        if n > 1:
            same[1:] = ((pxs[1:] == pxs[:-1]) & (pys[1:] == pys[:-1]) &
                        (lfs[1:] == lfs[:-1]))
        if same.any():
            import functools
            ck = functools.cmp_to_key(_compare_events)
            starts = np.nonzero(~same)[0]
            ends = np.append(starts[1:], n)
            for s, t in zip(starts, ends):
                if t - s > 1:
                    arr[s:t] = sorted(arr[s:t], key=ck)
        self.arr = arr
        self.i = 0
        self.heap = []

    def push(self, ev):
        heapq.heappush(self.heap, ev)

    def pop(self):
        if self.heap and (self.i >= len(self.arr) or
                          _compare_events(self.heap[0],
                                          self.arr[self.i]) < 0):
            return heapq.heappop(self.heap)
        ev = self.arr[self.i]
        self.i += 1
        return ev

    def __bool__(self):
        return bool(self.heap) or self.i < len(self.arr)


def _rings_bbox(rings):
    mnx = mny = np.inf
    mxx = mxy = -np.inf
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if len(r) == 0:
            continue
        mnx = min(mnx, r[:, 0].min())
        mxx = max(mxx, r[:, 0].max())
        mny = min(mny, r[:, 1].min())
        mxy = max(mxy, r[:, 1].max())
    return mnx, mny, mxx, mxy


def _node(initial, rightbound=np.inf):
    """The noding sweep: pop events in queue order, keep the status line,
    and split every pair of status-adjacent segments at their crossings
    (``_possible_intersection``). The sweep only nodes; which noded edges
    bound the result is decided later by membership probes
    (``_trace_result``). Events beyond x = ``rightbound`` cannot touch the
    result and end the sweep early.

    Returns the processed events in sweep order."""
    queue = _EventStream(initial)
    sweep = _SweepLine()
    sorted_events = []
    while queue:
        event = queue.pop()
        if event.point[0] > rightbound:
            break
        sorted_events.append(event)
        if event.left:
            idx = sweep.insert(event)
            if idx + 1 < len(sweep.items):
                _possible_intersection(event, sweep.items[idx + 1], queue)
            if idx > 0:
                _possible_intersection(sweep.items[idx - 1], event, queue)
        else:
            idx = sweep.index(event.other)
            if idx >= 0:
                del sweep.items[idx]
                if 0 < idx < len(sweep.items):
                    _possible_intersection(sweep.items[idx - 1],
                                           sweep.items[idx], queue)
    return sorted_events


def _subdivide(subject_rings, clipping_rings, op):
    """Node the two operands; INTERSECTION and DIFFERENCE stop the sweep
    past the right edge of the region their result can occupy."""
    initial = []
    _rings_to_events(subject_rings, True, initial)
    _rings_to_events(clipping_rings, False, initial)
    sbb = _rings_bbox(subject_rings)
    cbb = _rings_bbox(clipping_rings)
    if op == INTERSECTION:
        rightbound = min(sbb[2], cbb[2])
    elif op == DIFFERENCE:
        rightbound = sbb[2]
    else:
        rightbound = np.inf
    return _node(initial, rightbound)


class _SegIndex:
    """Flattened ring-set segments with a uniform y-bin index.

    A ray-cast crossing needs the segment's y-range to straddle the probe
    y, so each probe only consults the segments overlapping its y-bin —
    sum_b P_b*S_b work instead of the full P*S matrix (the difference
    between 0.8 s and 150 s on a 4k-box union)."""

    __slots__ = ("x", "y", "x2", "y2", "slope", "y0", "h", "nb",
                 "bin_segs", "bin_off")

    def __init__(self, rings):
        self.x = np.concatenate([r[:-1, 0] for r in rings])
        self.y = np.concatenate([r[:-1, 1] for r in rings])
        self.x2 = np.concatenate([r[1:, 0] for r in rings])
        self.y2 = np.concatenate([r[1:, 1] for r in rings])
        dy = self.y2 - self.y
        self.slope = (self.x2 - self.x) / np.where(dy == 0.0, 1.0, dy)
        S = len(self.x)
        lo = np.minimum(self.y, self.y2)
        hi = np.maximum(self.y, self.y2)
        ymin = float(lo.min())
        ymax = float(hi.max())
        self.nb = int(np.clip(int(np.sqrt(S)) or 1, 1, 4096))
        self.y0 = ymin
        self.h = max((ymax - ymin) / self.nb, 1e-300)
        b0 = np.clip(((lo - ymin) / self.h).astype(np.int64), 0, self.nb - 1)
        b1 = np.clip(((hi - ymin) / self.h).astype(np.int64), 0, self.nb - 1)
        reps = b1 - b0 + 1
        seg_of = np.repeat(np.arange(S), reps)
        local = np.arange(int(reps.sum())) - np.repeat(
            np.cumsum(reps) - reps, reps)
        bins = np.repeat(b0, reps) + local
        order = np.argsort(bins, kind="stable")
        self.bin_segs = seg_of[order]
        self.bin_off = np.searchsorted(bins[order],
                                       np.arange(self.nb + 1))

    def bucket_of(self, py):
        return np.clip(((py - self.y0) / self.h).astype(np.int64),
                       0, self.nb - 1)


def _ringset_segments(rings):
    """Flatten closed rings into a binned segment index (or None)."""
    if not rings:
        return None
    return _SegIndex(rings)


def _points_in_segs(px, py, segs):
    """Vectorized even-odd membership for MANY points at once (parity of
    total crossings == XOR of per-ring parities). Same comparisons and
    arithmetic as _point_in_ring, so results are bit-identical."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    if segs is None or len(px) == 0:
        return out
    buckets = segs.bucket_of(py)
    order = np.argsort(buckets, kind="stable")
    bo = buckets[order]
    starts = np.searchsorted(bo, np.arange(segs.nb + 1))
    for b in np.unique(bo):
        pidx = order[starts[b]:starts[b + 1]]
        sidx = segs.bin_segs[segs.bin_off[b]:segs.bin_off[b + 1]]
        if len(sidx) == 0:
            continue
        P = px[pidx][:, None]
        Q = py[pidx][:, None]
        y = segs.y[sidx][None, :]
        y2 = segs.y2[sidx][None, :]
        cond = (y <= Q) != (y2 <= Q)
        xs = segs.x[sidx][None, :] + (Q - y) * segs.slope[sidx][None, :]
        out[pidx] = (cond & (P < xs)).sum(axis=1) % 2 == 1
    return out


def _points_winding(px, py, segs):
    """Winding number for MANY points at once (signed +x ray crossings:
    +1 where the segment crosses the ray upward, -1 downward). Same
    crossing test and arithmetic as _points_in_segs, so a |winding|==1
    region classifies bit-identically to the even-odd probe."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=np.int64)
    if segs is None or len(px) == 0:
        return out
    buckets = segs.bucket_of(py)
    order = np.argsort(buckets, kind="stable")
    bo = buckets[order]
    starts = np.searchsorted(bo, np.arange(segs.nb + 1))
    for b in np.unique(bo):
        pidx = order[starts[b]:starts[b + 1]]
        sidx = segs.bin_segs[segs.bin_off[b]:segs.bin_off[b + 1]]
        if len(sidx) == 0:
            continue
        P = px[pidx][:, None]
        Q = py[pidx][:, None]
        y = segs.y[sidx][None, :]
        y2 = segs.y2[sidx][None, :]
        cond = (y <= Q) != (y2 <= Q)
        xs = segs.x[sidx][None, :] + (Q - y) * segs.slope[sidx][None, :]
        sgn = np.where(y2 > y, 1, -1)
        out[pidx] = np.where(cond & (P < xs), sgn, 0).sum(axis=1)
    return out


def union_many(polygons):
    """Union of N polygons in ONE noding sweep (Martinez–Rueda machinery
    used as a noder) + winding-number side probes + the shared face
    tracer — O((E + I) log E) total, versus the pairwise merge tree's
    O(tree-levels × E) repeated re-sweeps of growing intermediates.

    ``polygons``: list of polygons, each a list of CLOSED rings with
    shells CCW and holes CW (the winding probe relies on orientation —
    callers orient, e.g. with ``assemble_rings``). Returns the boolean_op
    output shape: list of polygons, each ``[shell(CCW), hole(CW), ...]``.
    """
    # offset datum, same rationale and gates as boolean_op: sweep at
    # local magnitude, translate back after
    mnx = mny = np.inf
    mxx = mxy = -np.inf
    for rings in polygons:
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            if len(r):
                mnx = min(mnx, float(r[:, 0].min()))
                mxx = max(mxx, float(r[:, 0].max()))
                mny = min(mny, float(r[:, 1].min()))
                mxy = max(mxy, float(r[:, 1].max()))
    if np.isfinite(mnx):
        mag = max(abs(mnx), abs(mny), abs(mxx), abs(mxy))
        if mag >= 131072.0:
            tx, ty = float(np.floor(mnx)), float(np.floor(mny))
            m2 = max(abs(mnx - tx), abs(mny - ty),
                     abs(mxx - tx), abs(mxy - ty))
            if np.isfinite(tx) and np.isfinite(ty) and m2 < 0.5 * mag:
                t = np.array([tx, ty], dtype=np.float64)
                out = union_many(
                    [[np.asarray(r, np.float64) - t for r in rings]
                     for rings in polygons])
                return [[r + t for r in poly] for poly in out]
    # ulp-twin vertices across operands break the sweep as in boolean_op
    polygons = _weld_ulp_twins([[np.asarray(r, dtype=np.float64)
                                 for r in rings if len(r) >= 3]
                                for rings in polygons])
    initial = []
    for pid, rings in enumerate(polygons):
        _rings_to_events(rings, pid, initial)
    if not initial:
        return []
    # collapse exactly-duplicated DIRECTED segments (stacked identical
    # operands — fuzz find: a crossing edge becomes status-adjacent to
    # only ONE of the twins, so the other never splits and the traced
    # chains break, dropping the whole result). The winding probe
    # counts orientation, so k identical copies and one copy classify
    # every region identically; opposite-direction coincident edges
    # (shell against reversed hole) keep both copies and still cancel.
    seen_dir = set()
    dedup = []
    for k in range(0, len(initial), 2):
        e1, e2 = initial[k], initial[k + 1]
        key = (e1.point, e2.point)
        if key in seen_dir:
            continue
        seen_dir.add(key)
        dedup.append(e1)
        dedup.append(e2)
    all_rings = [_close(r) for poly in polygons for r in poly]
    sorted_events = _node(dedup)
    segs = _ringset_segments(all_rings)

    def inside(xs, ys):
        return _points_winding(xs, ys, segs) != 0

    # strict: an open boundary raises, so algos._union_polys can fall
    # back to the pairwise tree (near-coincident vertex disks of a
    # buffer left a crossing unnoded and lost the outer ring)
    rings = _trace_result(sorted_events, inside, strict=True)
    return _assemble_polygons(rings)


def _point_in_ringset(px, py, rings) -> bool:
    """Even-odd membership of (px,py) against a flat closed-ring set."""
    odd = False
    for r in rings:
        if _point_in_ring(px, py, r):
            odd = not odd
    return odd


def _walk_rings(sorted_events, subject_rings, clipping_rings, op):
    """Phase 3: chain the result's boundary edges into closed rings.

    Robust planar-graph face trace instead of the original paper's
    event-position chaining (which mispairs edges where two result regions
    touch at a point, e.g. XOR of diagonally-overlapping boxes): orient
    every result edge so the op region lies on its LEFT (midpoint ±normal
    even-odd probe against the inputs), then trace cycles taking the
    leftmost turn at every vertex. Each directed edge is consumed exactly
    once; touching regions stay separate because the leftmost-turn pairing
    never crosses a vertex fan."""
    # Membership probes decide BOTH which noded edges bound the result and
    # their orientation — the sweep is used only for noding (robust; the
    # paper's in/out flag propagation is fragile on near-parallel edges).
    # An edge bounds the op region iff exactly one of its two side-probes
    # lands inside; it is oriented region-on-left.
    ssegs = _ringset_segments(subject_rings)
    csegs = _ringset_segments(clipping_rings)

    def region(xs, ys):
        ina = _points_in_segs(xs, ys, ssegs)
        inb = _points_in_segs(xs, ys, csegs)
        if op == INTERSECTION:
            return ina & inb
        if op == UNION:
            return ina | inb
        if op == DIFFERENCE:
            return ina & ~inb
        return ina != inb

    return _trace_result(sorted_events, region)


def _trace_result(sorted_events, inside_fn, strict=False):
    """Noded sweep events + a vectorized membership oracle → result rings.

    Shared by the 2-op boolean path (even-odd oracle per operand) and
    union_many (winding oracle over all operands). A vertex whose result
    edges stay unbalanced after the repair loop marks a crossing the
    sweep missed: the boolean path drops the dangling chain, ``strict``
    raises ValueError instead."""
    # vertex quantization: crossing points computed from different edge
    # pairs can differ in the last ulp — unify them so graph adjacency
    # holds (snap radius 1e-9, far below any real feature size). All
    # canonicalization/dedup/angle math is vectorized on INTEGER vertex
    # ids (the per-tuple round()/dict version was ~25%% of a large
    # union's runtime); the representative coordinate per id is the
    # FIRST occurrence, matching the old canon_table.setdefault.
    pts = [(e.point, e.other.point) for e in sorted_events if e.left]
    if not pts:
        return []
    flat = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    # complex encoding sorts lexicographically by (x, y) — same key order
    # as unique(axis=0) on the rounded pairs, minus its void-view sort
    # overhead (matters: a big dissolve merge traces thousands of small
    # components, each paying this call)
    rkey = np.round(flat, 9)
    uv, vid = np.unique(rkey[:, 0] + 1j * rkey[:, 1], return_inverse=True)
    vid = vid.astype(np.int64).ravel()
    first = np.full(len(uv), len(flat), dtype=np.int64)
    np.minimum.at(first, vid, np.arange(len(flat)))
    vx = flat[first, 0]
    vy = flat[first, 1]
    pe, qe = vid[0::2], vid[1::2]
    keep = pe != qe
    pe, qe = pe[keep], qe[keep]
    if not len(pe):
        return []
    lo = np.minimum(pe, qe)
    hi = np.maximum(pe, qe)
    # collinear shared edges appear once per input side: keep the first
    _, ui = np.unique(lo * np.int64(len(uv)) + hi, return_index=True)
    pe, qe = pe[ui], qe[ui]
    # ALL side probes in two batched passes — membership probing is
    # the dominant cost of the whole boolean op (measured 90%+), so
    # it must never run one point × one ring at a time. The probe →
    # direct → stitch pipeline runs inside a REPAIR loop: surviving
    # degree imbalance marks a chain break from a noding split the
    # sweep's adjacency testing missed (cascade outputs place earlier
    # crossing vertices exactly ON partner fragments); the repair
    # splits any edge whose interior passes through an unbalanced
    # vertex and re-probes the halves.
    dfrm = dto = None
    for _repair in range(4):
        mx = (vx[pe] + vx[qe]) * 0.5
        my = (vy[pe] + vy[qe]) * 0.5
        dx = vx[qe] - vx[pe]
        dy = vy[qe] - vy[pe]
        ln = np.sqrt(dx * dx + dy * dy)
        ok = ln > 0.0
        # probe offset: must separate the probe from the edge DECISIVELY
        # (well above fp noise at the edge's coordinate magnitude) while
        # staying SMALLER than the gap to any near-coincident parallel
        # boundary. The old 1e-9*len offset violated the second
        # requirement: for a ~500-long edge it probed 5e-7 out, jumping
        # straight OVER a twin boundary 1e-7 away, so BOTH boundaries
        # classified as result edges and the traced ring wound twice
        # (fuzz: jittered duplicate boxes doubled or zeroed the union
        # area). Three terms: a tiny length-relative part (keeps probes
        # off degenerate micro-edges), an absolute floor 2e-10 (half a
        # canon quantum — regions thinner than the 1e-9 vertex canon
        # don't survive snapping), and a magnitude-relative floor
        # ~13 ulp (the offset-datum translation bounds in-sweep
        # magnitudes to the local extent, so this stays far below any
        # representable feature separation).
        mag_e = np.maximum(np.maximum(np.abs(mx), np.abs(my)), 1.0)
        eps = np.maximum(np.maximum(1e-12 * ln, 2e-10), 3e-15 * mag_e)
        with np.errstate(divide="ignore", invalid="ignore"):
            nx = -dy / ln * eps
            ny = dx / ln * eps
        left_in = inside_fn(mx + nx, my + ny)
        right_in = inside_fn(mx - nx, my - ny)
        fwd = ok & left_in & ~right_in
        rev = ok & right_in & ~left_in
        # both-in (interior edge) or both-out (exterior edge): not a
        # boundary of the result — dropped
        sel = np.nonzero(fwd | rev)[0]
        if not len(sel):
            return []
        dfrm = np.where(fwd[sel], pe[sel], qe[sel])
        dto = np.where(fwd[sel], qe[sel], pe[sel])
        # (A) stitch split junctions: near-tangential crossings computed
        # from different edge pairs can land the "same" junction up to
        # ~1e-6 apart (intersection error ~ eps/sin(crossing angle),
        # far above the 1e-9 canon quantum) — the boundary chain then
        # dangles and a whole result ring is discarded. DEGREE-
        # UNBALANCED vertices with complementary deficits pair up
        # within the junction radius; balanced vertices (genuine small
        # features) are never merged.
        co = np.bincount(dfrm, minlength=len(uv))
        ci = np.bincount(dto, minlength=len(uv))
        imb = np.nonzero(co != ci)[0]
        if len(imb) > 1:
            need_out = [v for v in imb if co[v] < ci[v]]
            need_in = [v for v in imb if co[v] > ci[v]]
            # ADVICE r5: the 1e-5·|coord| pairing radius is ~10 m at
            # projected-CRS magnitudes — wide enough to cross-pair two
            # genuinely distinct unbalanced junctions. A merge is now
            # accepted only when (a) the pair sits within the noding
            # error bound proper (1e-6·|coord| ≈ 1e3× the intersection
            # ulp error at shallow crossing angles), or (b) one vertex
            # lies on the LINE of an edge incident to the other —
            # fragments of one true junction sit on the common split
            # edge (perp error ~machine-eps), distinct junctions don't.
            inc = {}
            unb = set(need_in) | set(need_out)
            for k in range(len(dfrm)):
                a_, b_ = int(dfrm[k]), int(dto[k])
                if a_ in unb or b_ in unb:
                    inc.setdefault(a_, []).append(b_)
                    inc.setdefault(b_, []).append(a_)

            def _on_incident_edge(v, w):
                for o in inc.get(w, ()):
                    ax_, ay_ = vx[w], vy[w]
                    dx_ = vx[o] - ax_
                    dy_ = vy[o] - ay_
                    L2_ = dx_ * dx_ + dy_ * dy_
                    if L2_ == 0.0:
                        continue
                    t_ = ((vx[v] - ax_) * dx_ + (vy[v] - ay_) * dy_) / L2_
                    cx_ = vx[v] - ax_ - t_ * dx_
                    cy_ = vy[v] - ay_ - t_ * dy_
                    tol = 1e-8 * max(abs(ax_), abs(ay_),
                                     abs(vx[o]), abs(vy[o]), 1.0)
                    if cx_ * cx_ + cy_ * cy_ <= tol * tol:
                        return True
                return False

            taken = set()
            for v in need_out:
                best = None
                magv = max(abs(vx[v]), abs(vy[v]), 1.0)
                for w in need_in:
                    if w in taken:
                        continue
                    dd = (vx[v] - vx[w]) ** 2 + (vy[v] - vy[w]) ** 2
                    if dd >= (1e-5 * magv) ** 2:
                        continue
                    if dd > (1e-6 * magv) ** 2 and \
                            not (_on_incident_edge(v, w) or
                                 _on_incident_edge(w, v)):
                        continue
                    if best is None or dd < best[0]:
                        best = (dd, w)
                if best is not None:
                    taken.add(best[1])
                    w = best[1]
                    dfrm[dfrm == w] = v
                    dto[dto == w] = v
        co = np.bincount(dfrm, minlength=len(uv))
        ci = np.bincount(dto, minlength=len(uv))
        imb2 = np.nonzero(co != ci)[0]
        if not len(imb2):
            break
        # the missed split can also sit at a BALANCED vertex: an
        # unnoded near-collinear overlap leaves a chord between two
        # unbalanced vertices whose interior passes through the first
        # vertex of a balanced side chain (a vertex of a spike poking
        # ~1e-3 out of the chord's line), and the leftmost-turn trace
        # then takes the chord and drops the chain. So every vertex
        # lying inside an edge incident to an unbalanced vertex is a
        # split point too.
        split_v = set(imb2.tolist())
        allv = np.unique(np.concatenate([pe, qe]))
        avx, avy = vx[allv], vy[allv]
        amag = np.maximum(np.maximum(np.abs(avx), np.abs(avy)), 1.0)
        for h in np.nonzero(np.isin(pe, imb2) | np.isin(qe, imb2))[0]:
            ax_, ay_ = vx[pe[h]], vy[pe[h]]
            ddx = vx[qe[h]] - ax_
            ddy = vy[qe[h]] - ay_
            L2 = ddx * ddx + ddy * ddy
            if L2 == 0.0:
                continue
            w0 = avx - ax_
            w1 = avy - ay_
            tpar = (w0 * ddx + w1 * ddy) / L2
            cxr = w0 - tpar * ddx
            cyr = w1 - tpar * ddy
            lnv = np.sqrt(L2)
            on = ((cxr * cxr + cyr * cyr <= (1e-9 * amag) ** 2) &
                  (tpar * lnv > 1e-9) & ((1.0 - tpar) * lnv > 1e-9))
            split_v.update(allv[on].tolist())
        changed = False
        for v in sorted(split_v):
            pxv, pyv = vx[v], vy[v]
            w0 = pxv - vx[pe]
            w1 = pyv - vy[pe]
            ddx = vx[qe] - vx[pe]
            ddy = vy[qe] - vy[pe]
            L2 = ddx * ddx + ddy * ddy
            tpar = (w0 * ddx + w1 * ddy) / np.where(L2 == 0.0, 1.0, L2)
            cxr = w0 - tpar * ddx
            cyr = w1 - tpar * ddy
            d2v = cxr * cxr + cyr * cyr
            lnv = np.sqrt(L2)
            magv = max(abs(pxv), abs(pyv), 1.0)
            hits = np.nonzero((d2v <= (1e-9 * magv) ** 2) &
                              (tpar * lnv > 1e-9) &
                              ((1.0 - tpar) * lnv > 1e-9))[0]
            for h in hits:
                pe = np.append(pe, v)
                qe = np.append(qe, qe[h])
                qe[h] = v
                changed = True
        if not changed:
            break
        lo = np.minimum(pe, qe)
        hi = np.maximum(pe, qe)
        _, ui = np.unique(lo * np.int64(len(uv)) + hi, return_index=True)
        pe, qe = pe[ui], qe[ui]
    if strict and len(imb2):
        raise ValueError("result boundary left open by the noding sweep")
    ang = np.arctan2(vy[dto] - vy[dfrm], vx[dto] - vx[dfrm])
    nd = len(dfrm)
    out_map = {}
    for eid in range(nd):
        out_map.setdefault(int(dfrm[eid]), []).append(eid)
    used = np.zeros(nd, dtype=bool)
    rings = []
    twopi = 2 * np.pi
    for start in range(nd):
        if used[start]:
            continue
        ringv = [int(dfrm[start])]
        eid = start
        guard = 0
        closed = False
        while guard <= nd:
            guard += 1
            used[eid] = True
            q = int(dto[eid])
            ringv.append(q)
            inc = ang[eid]
            best, best_rel = None, -1.0
            for cand in out_map.get(q, ()):
                if used[cand] and cand != start:
                    continue
                rel = (ang[cand] - inc - np.pi) % twopi
                if rel > best_rel:
                    best, best_rel = cand, rel
            if best is None:
                break  # dangling path (degenerate input); discard below
            if best == start:
                closed = True
                break
            eid = best
        if closed and len(ringv) >= 3:
            if ringv[0] != ringv[-1]:
                ringv.append(ringv[0])
            if len(ringv) >= 4:
                ids = np.asarray(ringv, dtype=np.int64)
                rings.append(np.column_stack([vx[ids], vy[ids]]))
    return rings


def _ring_signed_area(r) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _point_in_ring(px, py, r) -> bool:
    """Strict interior test, even-odd ray cast."""
    x, y = r[:-1, 0], r[:-1, 1]
    x2, y2 = r[1:, 0], r[1:, 1]
    cond = (y <= py) != (y2 <= py)
    dy = y2 - y
    xs = x + (py - y) * (x2 - x) / np.where(dy == 0.0, 1.0, dy)
    return bool(np.count_nonzero(cond & (px < xs)) % 2)


def _assemble_polygons(rings):
    """Phase 4: nest rings into polygons by containment parity.

    Shell = ring contained by an even number of other rings; a hole's parent
    is its immediate (smallest-area) containing shell.
    """
    if not rings:
        return []
    sa = np.array([_ring_signed_area(r) for r in rings])
    keepm = np.abs(sa) > 0.0
    if not keepm.any():
        return []
    rings = [r for r, k in zip(rings, keepm) if k]
    sa = sa[keepm]
    areas = np.abs(sa)
    n = len(rings)
    order = sorted(range(n), key=lambda k: -areas[k])
    pos = np.empty(n, dtype=np.int64)
    for oi, i in enumerate(order):
        pos[i] = oi
    bbs = np.array([[r[:, 0].min(), r[:, 1].min(),
                     r[:, 0].max(), r[:, 1].max()] for r in rings])
    # representative point: midpoint of first edge (never a vertex of
    # another result ring: the sweep split all crossings)
    mxs = np.array([(r[0, 0] + r[1, 0]) * 0.5 for r in rings])
    mys = np.array([(r[0, 1] + r[1, 1]) * 0.5 for r in rings])
    # inverted scan: containers from SMALLEST area upward claim the
    # unassigned rep points inside their bbox (x-range via one
    # searchsorted on the point order — the per-ring growing-slice bbox
    # mask was O(R^2) on a 22k-ring union). A point's first claimant is
    # its immediate (smallest containing, larger-area-rank) parent —
    # identical semantics to the old immediately-smaller-first scan.
    parent = np.full(n, -1, dtype=np.int64)
    xs_order = np.argsort(mxs, kind="stable")
    xs_sorted = mxs[xs_order]
    for oi in range(n - 1, -1, -1):
        j = order[oi]
        lo = np.searchsorted(xs_sorted, bbs[j, 0], "left")
        hi = np.searchsorted(xs_sorted, bbs[j, 2], "right")
        if lo >= hi:
            continue
        cand = xs_order[lo:hi]
        cand = cand[(mys[cand] >= bbs[j, 1]) & (mys[cand] <= bbs[j, 3]) &
                    (parent[cand] == -1) & (pos[cand] > oi)]
        for i in cand:
            if _point_in_ring(mxs[i], mys[i], rings[j]):
                parent[i] = j
    depth = np.zeros(n, dtype=np.int64)
    for i in order:          # decreasing area: parents resolve first
        if parent[i] >= 0:
            depth[i] = depth[parent[i]] + 1
    polys = {}
    for i, r in enumerate(rings):
        if depth[i] % 2 == 0:  # shell: orient CCW
            polys[i] = [r if sa[i] >= 0 else r[::-1]]
    for i, r in enumerate(rings):
        if depth[i] % 2 == 1:  # hole: orient CW, attach to parent shell
            hole = r if sa[i] <= 0 else r[::-1]
            polys[int(parent[i])].append(hole)
    return [polys[i] for i in sorted(polys)]


def _weld_ulp_twins(ring_sets):
    """Weld distinct-but-ulp-close vertices across all the operands of
    one sweep (``ring_sets``: one list of rings per operand; returned in
    the same shape, rings left with fewer than 3 vertices dropped).

    Two vertices a few ulps apart sit INSIDE every robustness quantum of
    the sweep (endpoint snap and _divide_segment no-op guard, both
    1e-13·mag) yet compare UNEQUAL in the exact comparators. The sweep
    then holds a status order derived from the raw coordinates while the
    snap logic treats the points as one — and the corrective division
    that would reorder the pair is suppressed as a no-op, so every later
    crossing discovered through that adjacency is missed (r13 subdivide
    fuzz find: a clip-box corner 2 ulps from a subject vertex lying on a
    collinear edge made INTERSECTION return empty for BOTH bbox halves
    of a concave polygon; in union_many, two buffer rectangles meeting
    a third at a corner 1 ulp apart made the union of all three empty).
    Welding each twin group to one representative (its lexicographically
    smallest member) restores the exact equality the degenerate-case
    machinery assumes.

    The weld threshold is ~1e-12 relative to the pair's own magnitude —
    an order above the 1e-13 snap quantum, three below the tracer's
    1e-9 canonicalization and the smallest real feature the kernel is
    specified for. Inputs with no twins (every clean / integer-grid
    operand) are returned unchanged, and the scan is a few vectorized
    passes over the distinct-vertex set."""
    rings = [r for rs in ring_sets for r in rs]
    if not rings:
        return ring_sets
    pts = np.concatenate([np.asarray(r, dtype=np.float64)[:, :2]
                          for r in rings], axis=0)
    if len(pts) < 2:
        return ring_sets
    # Fast reject (the common, clean-input case): a twin pair (unequal,
    # both coords within eps) forces SOME lexsort-adjacent pair with
    # 0 < dx <= eps (x-unequal twins: every x step between them is
    # smaller still) or dx == 0 and 0 < dy <= eps (x-equal twins sort
    # adjacent within their x block, or through another twin). One sort
    # + one diff, vs the full unique/union-find weld below.
    fmag = max(1.0, float(np.abs(pts).max()))
    feps = 1e-12 * fmag
    # complex sort == lexsort by (x, y); one call instead of three
    cs = np.sort(pts[:, 0] + 1j * pts[:, 1])
    dx = np.diff(cs.real)
    dy = np.diff(cs.imag)
    if not (((dx > 0.0) & (dx <= feps)) |
            ((dx == 0.0) & (np.abs(dy) > 0.0) &
             (np.abs(dy) <= feps))).any():
        return ring_sets
    uq, inv = np.unique(pts, axis=0, return_inverse=True)
    m = len(uq)
    if m < 2:
        return ring_sets
    gmag = max(1.0, float(np.abs(uq).max()))
    geps = 1e-12 * gmag
    # candidate generation: x-runs of lexicographically-sorted distinct
    # vertices chained by dx <= geps (over-inclusive; the pair test below
    # is local). Same-x columns always chain, so the cheap reject is on
    # the y-sorted adjacent pair test, not here.
    run_id = np.zeros(m, dtype=np.int64)
    np.cumsum(np.diff(uq[:, 0]) > geps, out=run_id[1:])
    order = np.lexsort((uq[:, 0], uq[:, 1], run_id))
    xu, yu = uq[order, 0], uq[order, 1]
    leps = 1e-12 * np.maximum.reduce(
        [np.abs(xu[:-1]), np.abs(yu[:-1]), np.ones(m - 1)])
    near = ((run_id[order][1:] == run_id[order][:-1]) &
            (np.abs(np.diff(yu)) <= leps) &
            (np.abs(np.diff(xu)) <= leps) &
            ((np.diff(xu) != 0.0) | (np.diff(yu) != 0.0)))
    if not near.any():
        return ring_sets
    parent = np.arange(m)

    def _find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for k in np.nonzero(near)[0]:
        ri, rj = _find(order[k]), _find(order[k + 1])
        if ri != rj:
            # lower uq index = lexicographically smaller point wins
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj
    rep = np.array([_find(i) for i in range(m)], dtype=np.int64)
    new_pts = uq[rep][inv]
    out = []
    pos = 0
    for rs in ring_sets:
        dst = []
        out.append(dst)
        for r in rs:
            k = len(r)
            nr = new_pts[pos:pos + k]
            pos += k
            if k > 1:
                keep = np.ones(k, dtype=bool)
                keep[1:] = (nr[1:] != nr[:-1]).any(axis=1)
                nr = nr[keep]
            if len(nr) >= 3:
                dst.append(nr)
    return out


def boolean_op(subject_rings, clipping_rings, op):
    """Boolean operation over two even-odd-filled ring sets.

    Each ring must be individually SIMPLE (no self-crossings) — the
    even-odd semantics apply to the nesting of simple rings, matching
    every in-repo caller (user-valid geometry, make_valid-noded faces,
    arrangement faces). A self-intersecting ring is undefined here,
    as it is for the reference's GEOS ops on invalid input (r10
    chaos-ring probe: UNION misclassifies the self-crossing region;
    callers pre-node via make_valid like GEOS users do).

    Returns list of polygons (each [shell, *holes]); [] for empty result.
    """
    subject_rings = [np.asarray(r, dtype=np.float64) for r in subject_rings
                     if len(r) >= 3]
    clipping_rings = [np.asarray(r, dtype=np.float64) for r in clipping_rings
                      if len(r) >= 3]
    s_empty = not subject_rings
    c_empty = not clipping_rings
    if s_empty and c_empty:
        return []
    if s_empty:
        if op in (UNION, XOR):
            return _assemble_polygons(
                [_close(r) for r in clipping_rings])
        return []
    if c_empty:
        if op == INTERSECTION:
            return []
        return _assemble_polygons([_close(r) for r in subject_rings])
    sbb = _rings_bbox(subject_rings)
    cbb = _rings_bbox(clipping_rings)
    if (sbb[2] < cbb[0] or cbb[2] < sbb[0] or
            sbb[3] < cbb[1] or cbb[3] < sbb[1]):
        # disjoint bboxes: no sweep needed
        if op == INTERSECTION:
            return []
        if op == DIFFERENCE:
            return _assemble_polygons([_close(r) for r in subject_rings])
        return (_assemble_polygons([_close(r) for r in subject_rings]) +
                _assemble_polygons([_close(r) for r in clipping_rings]))
    # near-identical operands (duplicate records with float noise, every
    # aligned coordinate within a few 1e-9 vertex-canon quanta): the two
    # boundaries are sub-quantum-separated EVERYWHERE, the regime the
    # tracer cannot classify (union traced shell+hole net-zero — 9th
    # fuzz find; union_all dedupes rows, this guards the direct binary
    # path). A == B at kernel resolution, so the ops are closed-form.
    if (len(subject_rings) == len(clipping_rings)
            and all(len(a) == len(b) for a, b in
                    zip(subject_rings, clipping_rings))
            and all(np.abs(a - b).max() <= 4e-9 for a, b in
                    zip(subject_rings, clipping_rings))):
        if op == XOR:
            return []
        if op == DIFFERENCE:
            return []
        return _assemble_polygons([_close(r) for r in subject_rings])
    # offset datum: the sweep's quanta (vertex canon 1e-9, probe and
    # stitch tolerances) are calibrated near the origin; at web-mercator
    # magnitudes (~1e7, where ulp ~ 2e-9 rivals the canon) union area
    # drifted ~5e-5 relative vs an exact reference. Translating both
    # operands by the floored bbox min (exact by Sterbenz for typical
    # local extents) restores machine precision (~1e-13 measured). The
    # half-magnitude requirement guarantees termination when the extent
    # itself is huge.
    mag = max(abs(sbb[0]), abs(sbb[1]), abs(sbb[2]), abs(sbb[3]),
              abs(cbb[0]), abs(cbb[1]), abs(cbb[2]), abs(cbb[3]))
    if mag >= 131072.0:
        tx = float(np.floor(min(sbb[0], cbb[0])))
        ty = float(np.floor(min(sbb[1], cbb[1])))
        m2 = max(abs(sbb[2] - tx), abs(cbb[2] - tx),
                 abs(sbb[3] - ty), abs(cbb[3] - ty),
                 abs(sbb[0] - tx), abs(cbb[0] - tx),
                 abs(sbb[1] - ty), abs(cbb[1] - ty))
        if np.isfinite(tx) and np.isfinite(ty) and m2 < 0.5 * mag:
            t = np.array([tx, ty], dtype=np.float64)
            out = boolean_op([r - t for r in subject_rings],
                             [r - t for r in clipping_rings], op)
            return [[r + t for r in poly] for poly in out]
    subject_rings, clipping_rings = _weld_ulp_twins([subject_rings,
                                                     clipping_rings])
    if not subject_rings or not clipping_rings:
        # a degenerate (sub-eps) ring dropped by the weld
        if not subject_rings and not clipping_rings:
            return []
        if not subject_rings:
            return (_assemble_polygons([_close(r) for r in clipping_rings])
                    if op in (UNION, XOR) else [])
        if op == INTERSECTION:
            return []
        return _assemble_polygons([_close(r) for r in subject_rings])
    sorted_events = _subdivide(subject_rings, clipping_rings, op)
    s_closed = [_close(r) for r in subject_rings]
    c_closed = [_close(r) for r in clipping_rings]
    rings = _walk_rings(sorted_events, s_closed, c_closed, op)
    return _assemble_polygons(rings)


def _close(r):
    r = np.asarray(r, dtype=np.float64)
    if len(r) and (r[0][0] != r[-1][0] or r[0][1] != r[-1][1]):
        return np.vstack([r, r[:1]])
    return r


def assemble_rings(rings):
    """Nest a flat list of mutually non-crossing closed rings (an
    even-odd ring set) into polygons ``[shell(CCW), hole(CW), ...]``."""
    return _assemble_polygons([_close(r) for r in rings])
