"""Unit tests for the pure-numpy polygon boolean kernel
(geometry/booleans.py) — the GEOS-overlay replacement.  Oracle for
axis-aligned cases: exact coordinate-compression union area."""

import numpy as np
import pytest

from dask_geopandas_spark.geometry import booleans as B


def box(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def area(polys):
    return sum(B.ring_signed_area(r) for p in polys for r in p)


def rect_union_area(rects):
    """Exact union area of axis-aligned rects by coordinate compression."""
    xs = np.unique(np.concatenate([[r[0], r[2]] for r in rects]))
    ys = np.unique(np.concatenate([[r[1], r[3]] for r in rects]))
    tot = 0.0
    for i in range(len(xs) - 1):
        for j in range(len(ys) - 1):
            cx, cy = (xs[i] + xs[i + 1]) / 2, (ys[j] + ys[j + 1]) / 2
            if any(r[0] <= cx <= r[2] and r[1] <= cy <= r[3] for r in rects):
                tot += (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j])
    return tot


def shoelace(ring):
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def clip_convex(subject, clip):
    """Sutherland-Hodgman: convex ``subject`` clipped to convex ``clip``
    (open rings, CCW)."""
    out = list(subject)
    for k in range(len(clip)):
        a, b = clip[k], clip[(k + 1) % len(clip)]
        side = lambda p: (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])  # noqa: E731
        src, out = out, []
        for i in range(len(src)):
            p, q = src[i], src[(i + 1) % len(src)]
            sp, sq = side(p), side(q)
            if sp >= 0:
                out.append(p)
            if (sp >= 0) != (sq >= 0):
                out.append(p + (q - p) * (sp / (sp - sq)))
    return np.array(out)


# polygon 0 of a seeded 48-polygon grid layer: first vertex disc and
# first segment rectangle of its boundary dilation at r = 0.0025 (the
# first two components of a polygon buffer).  The disc vertex (the 26th)
# lies within a grid quantum of the rectangle's long side.
_DISC = np.array([
    [0.9914223227617316, 31.01170655550685],
    [0.9914102845784122, 31.011951598357676],
    [0.9913742859627397, 31.012194281311892],
    [0.9913146736010622, 31.012432267199987],
    [0.9912320215930098, 31.012663264087763],
    [0.9911271259226025, 31.012885047348917],
    [0.991000996792488, 31.0130954810894],
    [0.9908548488951385, 31.01329253871726],
    [0.990690089714698, 31.013474322459818],
    [0.9905083059721408, 31.013639081640257],
    [0.9903112483442806, 31.013785229537607],
    [0.9901008146037966, 31.013911358667723],
    [0.9898790313426443, 31.01401625433813],
    [0.9896480344548678, 31.01409890634618],
    [0.989410048566772, 31.01415851870786],
    [0.9891673656125556, 31.01419451732353],
    [0.9889223227617316, 31.014206555506853],
    [0.9886772799109077, 31.01419451732353],
    [0.9884345969566913, 31.01415851870786],
    [0.9881966110685955, 31.01409890634618],
    [0.987965614180819, 31.01401625433813],
    [0.9877438309196667, 31.013911358667723],
    [0.9875333971791826, 31.013785229537607],
    [0.9873363395513225, 31.013639081640257],
    [0.9871545558087653, 31.013474322459818],
    [0.9869897966283248, 31.01329253871726],
    [0.9868436487309753, 31.0130954810894],
    [0.9867175196008607, 31.012885047348917],
    [0.9866126239304535, 31.012663264087763],
    [0.9865299719224011, 31.012432267199987],
    [0.9864703595607236, 31.012194281311892],
    [0.9864343609450511, 31.011951598357676],
    [0.9864223227617317, 31.01170655550685],
    [0.9864343609450511, 31.011461512656027],
    [0.9864703595607236, 31.01121882970181],
    [0.9865299719224011, 31.010980843813716],
    [0.9866126239304535, 31.01074984692594],
    [0.9867175196008607, 31.010528063664786],
    [0.9868436487309753, 31.0103176299243],
    [0.9869897966283248, 31.010120572296444],
    [0.9871545558087653, 31.009938788553885],
    [0.9873363395513225, 31.009774029373446],
    [0.9875333971791826, 31.009627881476096],
    [0.9877438309196667, 31.00950175234598],
    [0.987965614180819, 31.009396856675572],
    [0.9881966110685955, 31.009314204667522],
    [0.9884345969566913, 31.009254592305844],
    [0.9886772799109077, 31.00921859369017],
    [0.9889223227617316, 31.00920655550685],
    [0.9891673656125556, 31.00921859369017],
    [0.989410048566772, 31.009254592305844],
    [0.9896480344548678, 31.009314204667522],
    [0.9898790313426443, 31.009396856675572],
    [0.9901008146037966, 31.00950175234598],
    [0.9903112483442806, 31.009627881476096],
    [0.9905083059721408, 31.009774029373446],
    [0.990690089714698, 31.009938788553885],
    [0.9908548488951385, 31.010120572296444],
    [0.991000996792488, 31.0103176299243],
    [0.9911271259226025, 31.010528063664786],
    [0.9912320215930098, 31.01074984692594],
    [0.9913146736010622, 31.010980843813716],
    [0.9913742859627397, 31.01121882970181],
    [0.9914102845784122, 31.011461512656027],
])
_RECT = np.array([
    [0.9908546815218092, 31.010120368373393],
    [0.988291405154585, 31.006997679102863],
    [0.9844266876344299, 31.01017005336978],
    [0.9869899640016541, 31.01329274264031],
])


class TestBinaryOverlay:
    def test_union_overlapping(self):
        u = B.overlay([box(0, 0, 2, 2)], [box(1, 1, 3, 3)], "union")
        assert len(u) == 1 and area(u) == 7.0

    def test_union_disjoint_multipolygon(self):
        u = B.overlay([box(0, 0, 1, 1)], [box(5, 5, 6, 6)], "union")
        assert len(u) == 2 and area(u) == 2.0

    def test_union_corner_touch_stays_two_shells(self):
        """OGC validity: corner-touching squares must NOT fuse into one
        bowtie ring — the pinch-vertex successor rule separates them."""
        u = B.overlay([box(0, 0, 1, 1)], [box(1, 1, 2, 2)], "union")
        assert len(u) == 2 and area(u) == 2.0

    @pytest.mark.parametrize("b2", [
        (1, 0, 2, 1),   # shared vertical edge
        (0, 1, 1, 2),   # shared horizontal edge
    ])
    def test_union_shared_edge_merges(self, b2):
        u = B.overlay([box(0, 0, 1, 1)], [box(*b2)], "union")
        assert len(u) == 1 and len(u[0]) == 1 and area(u) == 2.0

    def test_union_contained(self):
        u = B.overlay([box(0, 0, 4, 4)], [box(1, 1, 2, 2)], "union")
        assert len(u) == 1 and area(u) == 16.0

    def test_intersection(self):
        i = B.overlay([box(0, 0, 2, 2)], [box(1, 1, 3, 3)], "intersection")
        assert len(i) == 1 and area(i) == 1.0

    def test_intersection_disjoint_empty(self):
        assert B.overlay([box(0, 0, 1, 1)], [box(3, 3, 4, 4)],
                         "intersection") == []

    def test_intersection_edge_touch_empty(self):
        """Touching along an edge has empty interior — no area output."""
        assert B.overlay([box(0, 0, 1, 1)], [box(1, 0, 2, 1)],
                         "intersection") == []

    def test_difference_creates_hole(self):
        d = B.overlay([box(0, 0, 4, 4)], [box(1, 1, 2, 2)], "difference")
        assert len(d) == 1 and len(d[0]) == 2 and area(d) == 15.0
        shell, hole = d[0]
        assert B.ring_signed_area(shell) > 0 > B.ring_signed_area(hole)

    def test_difference_splits_parts(self):
        d = B.overlay([box(0, 0, 3, 1)], [box(1, -1, 2, 2)], "difference")
        assert len(d) == 2 and area(d) == 2.0

    def test_difference_covered_empty(self):
        assert B.overlay([box(1, 1, 2, 2)], [box(0, 0, 3, 3)],
                         "difference") == []

    def test_xor(self):
        x = B.overlay([box(0, 0, 2, 2)], [box(1, 1, 3, 3)], "xor")
        assert len(x) == 2 and area(x) == 6.0

    def test_identical_operands(self):
        a = [box(0, 0, 2, 2)]
        assert area(B.overlay(a, a, "union")) == 4.0
        assert area(B.overlay(a, a, "intersection")) == 4.0
        assert B.overlay(a, a, "difference") == []
        assert B.overlay(a, a, "xor") == []

    def test_empty_operand(self):
        a = [box(0, 0, 2, 2)]
        assert area(B.overlay(a, [], "union")) == 4.0
        assert B.overlay(a, [], "intersection") == []
        assert area(B.overlay(a, [], "difference")) == 4.0
        assert B.overlay([], a, "difference") == []

    def test_concave_l_shape_intersection(self):
        L = np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3], [0, 0]],
                     float)
        i = B.overlay([L], [box(0.5, 0.5, 2.5, 2.5)], "intersection")
        assert area(i) == pytest.approx(1.75, abs=1e-9)

    def test_operand_with_hole(self):
        holed = B.overlay([box(0, 0, 4, 4)], [box(1, 1, 3, 3)], "difference")
        rings = [r for p in holed for r in p]
        # patch the hole back -> solid square
        u = B.overlay(rings, [box(1, 1, 3, 3)], "union")
        assert len(u) == 1 and len(u[0]) == 1 and area(u) == 16.0
        # intersect the holed frame with a box crossing the hole
        i = B.overlay(rings, [box(0, 1.5, 4, 2.5)], "intersection")
        assert area(i) == pytest.approx(2.0, abs=1e-9)  # two 1x1 side bites

    def test_triangles_inclusion_exclusion(self):
        t1 = np.array([[0.1, 0.1], [2.7, 0.3], [1.5, 2.9], [0.1, 0.1]])
        t2 = np.array([[1.0, 0.0], [3.0, 1.0], [0.0, 2.0], [1.0, 0.0]])
        a1, a2 = B.ring_signed_area(t1), B.ring_signed_area(t2)
        ai = area(B.overlay([t1], [t2], "intersection"))
        au = area(B.overlay([t1], [t2], "union"))
        assert ai + au == pytest.approx(a1 + a2, rel=1e-9)


    @pytest.mark.parametrize("mode", ["shifted", "slid", "rotated"])
    def test_near_degenerate_pairs_match_convex_oracle(self, mode):
        """Operand pairs whose edges nearly coincide: a copy shifted by
        about a grid quantum, a copy slid along its first edge (shared
        edge line), a copy rotated by ~1e-9 about a vertex.  Every
        operation's area must match the Sutherland-Hodgman oracle."""
        rng = np.random.default_rng(11)
        for _ in range(20):
            th = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(3, 12)))
            a = rng.uniform(3, 7, 2) + rng.uniform(1, 3) * np.column_stack(
                [np.cos(th), np.sin(th)])
            if mode == "shifted":
                b = a + rng.uniform(-1e-11, 1e-11, 2)
            elif mode == "slid":
                b = a + (a[1] - a[0]) * rng.uniform(0.1, 0.9)
            else:
                c, s_ = np.cos(1e-9), np.sin(1e-9)
                b = (a - a[0]) @ np.array([[c, -s_], [s_, c]]).T + a[0]
            inter = clip_convex(a, b)
            ia = shoelace(inter) if len(inter) >= 3 else 0.0
            sa, sb = shoelace(a), shoelace(b)
            want = {"intersection": ia, "union": sa + sb - ia,
                    "difference": sa - ia, "xor": sa + sb - 2 * ia}
            for op, w in want.items():
                got = area(B.overlay([np.vstack([a, a[:1]])],
                                     [np.vstack([b, b[:1]])], op))
                assert got == pytest.approx(w, abs=1e-6 * sa), (op, a, b)

class TestNaryUnion:
    def test_random_boxes_vs_compression_oracle(self):
        rng = np.random.default_rng(7)
        rects = []
        for _ in range(40):
            x0, y0 = rng.integers(0, 30, 2)
            w, h = rng.integers(1, 8, 2)
            rects.append((float(x0), float(y0), float(x0 + w), float(y0 + h)))
        u = B.union_polygons([[box(*r)] for r in rects])
        assert area(u) == pytest.approx(rect_union_area(rects), abs=1e-9)

    def test_frame_of_rects_makes_hole(self):
        frame = [(0, 0, 10, 2), (0, 8, 10, 10), (0, 0, 2, 10), (8, 0, 10, 10)]
        u = B.union_polygons([[box(*r)] for r in frame])
        assert len(u) == 1 and len(u[0]) == 2
        assert area(u) == pytest.approx(rect_union_area(frame), abs=1e-9)

    def test_fold_path_matches_single_pass(self):
        """Divide-and-conquer folding (forced tiny budget) returns the
        same area as the single-pass arrangement."""
        rng = np.random.default_rng(3)
        rects = []
        for _ in range(30):
            x0, y0 = rng.integers(0, 20, 2)
            rects.append((float(x0), float(y0),
                          float(x0 + rng.integers(1, 6)),
                          float(y0 + rng.integers(1, 6))))
        polys = [[box(*r)] for r in rects]
        one = area(B.union_polygons(polys))
        old = B._MAX_FOLD_E
        try:
            B._MAX_FOLD_E = 40  # force deep folding
            folded = area(B.union_polygons(polys))
        finally:
            B._MAX_FOLD_E = old
        assert folded == pytest.approx(one, rel=1e-12)
        assert one == pytest.approx(rect_union_area(rects), abs=1e-9)

    def test_vertex_within_a_quantum_of_an_edge(self):
        """A disc vertex 1.4e-11 from a rectangle side, under one grid
        quantum: the sub-quantum sliver between them must not break the
        ring (it once classified inconsistently and the union came back
        empty)."""
        disc, rect = _DISC, _RECT[::-1]          # both CCW
        assert shoelace(disc) > 0 and shoelace(rect) > 0
        u = B.union_polygons([[np.vstack([disc, disc[:1]])],
                              [np.vstack([rect, rect[:1]])]])
        want = (shoelace(disc) + shoelace(rect)
                - shoelace(clip_convex(disc, rect)))
        assert len(u) == 1 and len(u[0]) == 1
        assert area(u) == pytest.approx(want, rel=1e-9)

    def test_single_polygon_passthrough(self):
        u = B.union_polygons([[box(0, 0, 2, 3)]])
        assert area(u) == 6.0


class TestClipLines:
    L = np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3], [0, 0]],
                 float)

    def test_cross_bottom_arm(self):
        out = B.clip_lines_to_rings([np.array([[-1, 0.5], [4, 0.5]])], [self.L])
        assert len(out) == 1
        np.testing.assert_allclose(out[0], [[0, 0.5], [3, 0.5]])

    def test_cross_left_arm_only(self):
        out = B.clip_lines_to_rings([np.array([[-1., 2], [4, 2]])], [self.L])
        assert len(out) == 1
        np.testing.assert_allclose(out[0], [[0, 2], [1, 2]])

    def test_outside_kept_when_inverted(self):
        out = B.clip_lines_to_rings([np.array([[-1., 2], [4, 2]])], [self.L],
                                    keep_inside=False)
        total = sum(np.hypot(*np.diff(o, axis=0).T).sum() for o in out)
        assert total == pytest.approx(4.0)  # 5 total - 1 inside

    def test_line_through_hole_splits(self):
        holed = B.overlay([box(0, 0, 4, 4)], [box(1, 1, 3, 3)], "difference")
        rings = [r for p in holed for r in p]
        out = B.clip_lines_to_rings([np.array([[-1., 2.], [5., 2.]])], rings)
        lens = sorted(np.hypot(*np.diff(o, axis=0).T).sum() for o in out)
        assert lens == pytest.approx([1.0, 1.0])

    def test_boundary_collinear_piece_kept(self):
        out = B.clip_lines_to_rings(
            [np.array([[-1., 0.], [4., 0.]])], [box(0, 0, 3, 3)])
        total = sum(np.hypot(*np.diff(o, axis=0).T).sum() for o in out)
        assert total == pytest.approx(3.0)
