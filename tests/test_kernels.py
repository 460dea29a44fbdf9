"""Pure-kernel tests: bbox quadsplit, OID resolution, ring assembly,
ray-cast, rewind — the reference-parity anchors (SURVEY.md §5 styles
1 and 2). No Spark session needed here."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from esri_dump_spark.kernels.bbox import BBox, split_bbox, quadtree_partition
from esri_dump_spark.kernels.rings import (
    ring_is_clockwise, close_ring, point_in_ring, points_in_ring,
    edges_intersect, ring_contains_ring, rings_to_geojson, points_in_polygon,
)
from esri_dump_spark.kernels.rewind import rewind, ring_signed_sum
from esri_dump_spark.plans.schema import find_oid_field, field_to_schema


# ---------------------------------------------------------------- bbox (G9)

def test_split_bbox_exact_quadrants():
    # same envelope/expectations as the reference unit test
    out = split_bbox(BBox(-97.0189932385465, 20.52053000026018,
                          -88.57449931419137, 29.116263085773653))
    exp = [
        (-97.0189932385465, 20.52053000026018, -92.79674627636894, 24.818396543016917),
        (-92.79674627636894, 20.52053000026018, -88.57449931419137, 24.818396543016917),
        (-97.0189932385465, 24.818396543016917, -92.79674627636894, 29.116263085773653),
        (-92.79674627636894, 24.818396543016917, -88.57449931419137, 29.116263085773653),
    ]
    assert [tuple(b) for b in out] == exp

    out2 = split_bbox(BBox(2, 2, 4, 4))
    assert [tuple(b) for b in out2] == [
        (2, 2, 3, 3), (3, 2, 4, 3), (2, 3, 3, 4), (3, 3, 4, 4)]


def test_quadtree_partition_refines_until_under_limit():
    # synthetic "server": uniform density, count proportional to area
    def count(b):
        return int(round((b.xmax - b.xmin) * (b.ymax - b.ymin) * 100))

    leaves = quadtree_partition(BBox(0, 0, 4, 4), count, max_records=200)
    assert leaves, "produces leaf envelopes"
    assert all(count(b) < 200 for b in leaves)
    # full coverage: areas sum to the root area
    assert sum((b.xmax - b.xmin) * (b.ymax - b.ymin) for b in leaves) == pytest.approx(16.0)


# ---------------------------------------------------------------- oid (P8)

def test_find_oid_field():
    assert find_oid_field([{"name": "test", "type": "esriFieldTypeOID"}]) == "test"
    assert find_oid_field([{"name": "id", "type": "esriTypeDouble"}]) == "id"
    assert find_oid_field([
        {"name": "id", "type": "esriTypeDouble"},
        {"name": "objectid", "type": "esriTypeString"},
    ]) == "objectid"
    with pytest.raises(ValueError, match="Could not determine OBJECTID"):
        find_oid_field([{"name": "test", "type": "esriTypeDouble"}])


# ---------------------------------------------------------------- rings

def test_winding_and_closure():
    cw = [[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]       # clockwise (x-right, y-up)
    ccw = cw[::-1]
    assert ring_is_clockwise(np.array(cw, float))
    assert not ring_is_clockwise(np.array(ccw, float))
    open_ring = np.array([[0, 0], [0, 1], [1, 1]], float)
    closed = close_ring(open_ring)
    assert closed.shape[0] == 4 and np.array_equal(closed[0], closed[-1])
    assert close_ring(closed).shape[0] == 4  # idempotent


def test_raycast_inequality_semantics():
    ring = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]], float)
    assert point_in_ring([5, 5], ring)
    assert not point_in_ring([15, 5], ring)
    assert not point_in_ring([-1, 5], ring)
    # half-open boundary rules: bottom-left vertex in, top edge out
    assert point_in_ring([5, 0], ring)        # on bottom edge -> inside
    assert not point_in_ring([5, 10], ring)   # on top edge -> outside
    # vectorized batch agrees with scalar
    pts = np.array([[5, 5], [15, 5], [5, 0], [5, 10], [0.0001, 9.999]])
    got = points_in_ring(pts, ring)
    assert got.tolist() == [True, False, True, False, True]


def test_edge_intersection_and_containment():
    sq = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]], float)
    inner = np.array([[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]], float)
    crossing = np.array([[-5, 5], [15, 5], [-5, 6], [-5, 5]], float)
    assert not edges_intersect(sq, inner)
    assert edges_intersect(sq, crossing)
    assert ring_contains_ring(sq, inner)
    assert not ring_contains_ring(inner, sq)
    assert not ring_contains_ring(sq, crossing)


def test_polygons_intersect_predicate():
    from esri_dump_spark.kernels.rings import polygons_intersect
    sq = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    inner = [[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]]
    crossing = [[5, -5], [5, 15], [6, 15], [6, -5], [5, -5]]
    far = [[20, 20], [20, 22], [22, 22], [22, 20], [20, 20]]
    hole = [[1, 1], [9, 1], [9, 9], [1, 9], [1, 1]]   # CCW hole
    in_hole = [[3, 3], [3, 5], [5, 5], [5, 3], [3, 3]]
    # crossing edges, containment in both directions, disjoint
    assert polygons_intersect([sq], [crossing])
    assert polygons_intersect([sq], [inner])       # B inside A
    assert polygons_intersect([inner], [sq])       # A inside B
    assert not polygons_intersect([sq], [far])
    # even-odd: a polygon inside another's hole does NOT intersect,
    # but one poking through the hole's boundary does
    assert not polygons_intersect([sq, hole], [in_hole])
    poke = [[3, 3], [3, 9.5], [5, 9.5], [5, 3], [3, 3]]
    assert polygons_intersect([sq, hole], [poke])
    # multipolygon with a DISJOINT first component and a CONTAINED
    # second one: the per-ring probe must catch it in both directions
    # (a first-ring-only probe returns a false negative here)
    assert polygons_intersect([sq], [far, inner])
    assert polygons_intersect([far, inner], [sq])
    # ...and entirely-disjoint multiparts stay disjoint
    far2 = [[30, 30], [30, 32], [32, 32], [32, 30], [30, 30]]
    assert not polygons_intersect([sq], [far, far2])
    # degenerate/empty ring sets never intersect anything
    assert not polygons_intersect([], [sq])
    assert not polygons_intersect([sq], [])


def test_rings_to_geojson_simple_polygon_with_hole():
    shell = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]   # CW = shell
    hole = [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]]        # CCW = hole
    g = rings_to_geojson([shell, hole])
    assert g["type"] == "Polygon"
    assert g["coordinates"][0] == shell
    assert g["coordinates"][1] == hole


def test_rings_to_geojson_multipolygon_and_hole_assignment():
    shell_a = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    shell_b = [[20, 0], [20, 10], [30, 10], [30, 0], [20, 0]]
    hole_b = [[22, 2], [24, 2], [24, 4], [22, 4], [22, 2]]
    g = rings_to_geojson([shell_a, shell_b, hole_b])
    assert g["type"] == "MultiPolygon"
    assert len(g["coordinates"]) == 2
    # hole attaches to shell_b (scanned last-to-first; only b contains it)
    assert g["coordinates"][1][0] == shell_b
    assert g["coordinates"][1][1] == hole_b


def test_rings_to_geojson_unmatched_hole_promoted_reversed():
    # CCW ring contained by no shell -> reversed into a new shell
    lone = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]  # CCW
    g = rings_to_geojson([lone])
    assert g["type"] == "Polygon"
    assert g["coordinates"][0] == lone[::-1]


def test_rings_to_geojson_drops_degenerate_rings():
    # fewer than 4 points after closing -> dropped
    shell = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    degenerate = [[0, 0], [1, 1]]
    g = rings_to_geojson([degenerate, shell])
    assert g["type"] == "Polygon"
    assert len(g["coordinates"]) == 1


def test_rings_to_geojson_hole_matches_last_shell():
    # two nested CW shells both contain the hole -> LAST shell wins
    big = [[0, 0], [0, 100], [100, 100], [100, 0], [0, 0]]
    small = [[10, 10], [10, 50], [50, 50], [50, 10], [10, 10]]
    hole = [[20, 20], [30, 20], [30, 30], [20, 30], [20, 20]]  # CCW, inside both
    g = rings_to_geojson([big, small, hole])
    assert g["type"] == "MultiPolygon"
    assert g["coordinates"][1][0] == small
    assert len(g["coordinates"][1]) == 2  # hole attached to small (last)
    assert len(g["coordinates"][0]) == 1


def test_points_in_polygon_even_odd_with_hole():
    shell = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    hole = [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]]
    pts = np.array([[1, 1], [3, 3], [5, 5], [11, 5]], float)
    got = points_in_polygon(pts, [np.array(shell, float), np.array(hole, float)])
    assert got.tolist() == [True, False, True, False]


# ---------------------------------------------------------------- rewind (G8)

def test_rewind_polygon_rhr():
    cw_shell = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    ccw_hole = [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]]
    gj = {"type": "Polygon", "coordinates": [list(map(list, cw_shell)),
                                             list(map(list, ccw_hole))]}
    rewind(gj)
    # RFC 7946: exterior CCW (signed sum < 0 under our convention), holes CW
    assert ring_signed_sum(gj["coordinates"][0]) < 0
    assert ring_signed_sum(gj["coordinates"][1]) >= 0


def test_rewind_idempotent_and_recursive():
    f = {"type": "Feature", "properties": {},
         "geometry": {"type": "MultiPolygon", "coordinates": [
             [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]],
             [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]],
         ]}}
    rewind(f)
    once = json.dumps(f)
    rewind(f)
    assert json.dumps(f) == once
    for poly in f["geometry"]["coordinates"]:
        assert ring_signed_sum(poly[0]) < 0


@pytest.mark.parametrize("name", ["featuregood", "flip", "collection",
                                  "geomcollection", "multipolygon", "rev",
                                  "near-zero"])
def test_rewind_reference_golden_pairs(name):
    """Structural equality with the reference's 7 golden input/output
    pairs (vendored verbatim from the reference test suite into
    tests/fixtures/rewind), including the near-zero sliver that catches
    naive (non-compensated) area summation."""
    base = os.path.join(os.path.dirname(__file__), "fixtures", "rewind")
    with open(f"{base}/{name}.input.geojson") as f:
        gj = json.load(f)
    with open(f"{base}/{name}.output.geojson") as f:
        expected = json.load(f)
    assert rewind(gj) == expected


# ---------------------------------------------------------------- schema (EP2)

def test_field_to_schema_document():
    meta = {"fields": [
        {"name": "objectid", "type": "esriFieldTypeOID"},
        {"name": "name", "type": "esriFieldTypeString", "length": 50},
        {"name": "when", "type": "esriFieldTypeDate"},
        {"name": "score", "type": "esriFieldTypeDouble"},
        {"name": "n", "type": "esriFieldTypeSmallInteger"},
        {"name": "mystery", "type": "esriFieldTypeFancyNew"},
    ]}
    doc = field_to_schema(meta)
    assert doc["type"] == "object"
    assert doc["additionalProperties"] is False
    p = doc["properties"]
    assert p["objectid"] == {"type": "number"}
    assert p["name"] == {"type": "string", "maxLength": 50}
    assert p["when"] == {"type": "string", "format": "date-time"}
    assert p["score"] == {"type": "number"}
    assert p["n"] == {"type": "integer"}
    assert p["mystery"] == {"type": "string"}  # unknown type fallback
    assert field_to_schema({}) == {
        "type": "object", "required": [], "additionalProperties": False,
        "properties": {}}


def test_field_to_schema_null_length_js_nan_parity():
    """schema.ts:42 guards maxLength with JS !isNaN(length): Number(null)
    is 0 (not NaN), so length:null still emits "maxLength": null; an
    ABSENT length (undefined -> NaN) emits nothing; numeric strings
    coerce; non-numeric strings don't."""
    meta = {"fields": [
        {"name": "notes", "type": "esriFieldTypeString", "length": None},
        {"name": "no_len", "type": "esriFieldTypeString"},
        {"name": "strnum", "type": "esriFieldTypeString", "length": "12"},
        {"name": "junk", "type": "esriFieldTypeString", "length": "abc"},
        {"name": "num_null", "type": "esriFieldTypeDouble", "length": None},
    ]}
    p = field_to_schema(meta)["properties"]
    assert p["notes"] == {"type": "string", "maxLength": None}
    assert p["no_len"] == {"type": "string"}
    assert p["strnum"] == {"type": "string", "maxLength": "12"}
    assert p["junk"] == {"type": "string"}
    assert p["num_null"] == {"type": "number"}  # non-string: no maxLength


def test_rewind_feature_without_geometry_key():
    from esri_dump_spark.kernels.rewind import rewind
    gj = {"type": "Feature", "properties": {}}
    assert rewind(gj) == gj  # reference guard parity: no KeyError


def test_js_number_grammar_divergences():
    """Number() vs float() literal-grammar corners that would break
    schema golden parity: underscores NaN, unsigned hex parses,
    'inf' NaN but 'Infinity' finite-check true."""
    from esri_dump_spark.plans.schema import _js_not_nan
    assert _js_not_nan("1_2") is False     # Number('1_2') = NaN
    assert _js_not_nan("0x10") is True     # Number('0x10') = 16
    assert _js_not_nan("-0x10") is False   # signed radix = NaN
    assert _js_not_nan("inf") is False     # Number('inf') = NaN
    assert _js_not_nan("Infinity") is True
    assert _js_not_nan("infinity") is False  # case-sensitive in JS
    assert _js_not_nan("1e3") is True
