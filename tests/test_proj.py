"""CRS engine tests (kernels/proj.py + the derived wkid table).

Two kinds of evidence:
  * golden vectors lifted from the reference's OWN test suite
    (/root/reference/test/tilejson.test.ts) — the proj4js numbers the
    engine must reproduce within the reference's 1e-6 tolerance;
  * forward/inverse round-trip over EVERY supported entry of the
    4582-CRS table (real parameter sets, not synthetic ones) — the
    self-consistency property that catches series/iteration bugs.
"""

from __future__ import annotations

import json
import os

import pytest

from esri_dump_spark.kernels import proj as P
from esri_dump_spark.plans.tilejson import (bounds_from_extent,
                                            _crs_for_wkid, _wkid_table)

TOL = 1e-6  # the reference's own approx() tolerance

# ESRI WKT for wkids 103191 and 2000, rebuilt from the stored parameters
WKT_FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                           "wkid_wkt.json")


def test_lcc_golden_wkid_103191_fallback_from_unsupported_latest():
    """Reference test/tilejson.test.ts:98-122: latestWkid 6609 has no
    table entry, so the chain falls back to wkid 103191 (Wisconsin
    South LCC, US-foot units)."""
    ext = {"xmin": 2231735.049, "ymin": 309043.987,
           "xmax": 2360165.299, "ymax": 439980.237,
           "spatialReference": {"wkid": 103191, "latestWkid": 6609}}
    got = bounds_from_extent(ext)
    exp = (-89.01846770012975, 42.83851413306932,
           -88.53106880092396, 43.202907314004854)
    for g, e in zip(got, exp):
        assert abs(g - e) < TOL


def test_tmerc_golden_wkid_102605_imageserver_fixture():
    """Reference test/tilejson.test.ts ImageServer fixture (Idaho TM,
    wkid 102605)."""
    ext = {"xmin": 2240369.8233000003, "ymin": 1192725.063299999,
           "xmax": 2748620.3233000003, "ymax": 1987830.063299999,
           "spatialReference": {"wkid": 102605, "latestWkid": 102605}}
    got = bounds_from_extent(ext)
    exp = (-117.55256932195272, 41.89181133113208,
           -110.59779625882915, 49.04113757310969)
    for g, e in zip(got, exp):
        assert abs(g - e) < TOL


def test_wkt_passthrough_beats_wkid():
    """projectionDefinition order: explicit spatialReference.wkt wins
    over wkid (lib/tilejson.ts:86)."""
    wkt = json.load(open(WKT_FIXTURE))["103191"]
    ext = {"xmin": 2231735.049, "ymin": 309043.987,
           "xmax": 2360165.299, "ymax": 439980.237,
           "spatialReference": {"wkid": 999999999, "wkt": wkt}}
    got = bounds_from_extent(ext)
    assert abs(got[0] - -89.01846770012975) < TOL


def test_every_table_wkid_resolves_to_a_definition():
    """The old subset raised on unknown wkids; now every wkid in the
    reference's table yields a parsed CRS definition."""
    tab = _wkid_table()
    assert len(tab["entries"]) == 4582
    for wkid in list(tab["entries"]):
        assert _crs_for_wkid(int(wkid)) is not None


def test_roundtrip_every_supported_table_entry():
    """fwd o inv == id within 1e-6 deg near each CRS's own center, for
    every entry whose projection family is implemented (>= 97% of the
    table; the rest are families proj4js also cannot transform)."""
    tab = _wkid_table()
    names = tab["projections"]
    tested = 0
    for wkid, e in tab["entries"].items():
        fam = (names[e[0]] or "").lower()
        if fam and fam not in P.SUPPORTED_PROJECTIONS:
            continue
        crs = _crs_for_wkid(int(wkid))
        p = e[5]
        lat_c = p.get("latitude_of_origin",
                      p.get("latitude_of_center",
                            p.get("standard_parallel_1", 0.0)))
        lon_c = p.get("central_meridian",
                      p.get("longitude_of_center", 0.0)) + e[3]
        lat = max(-85.0, min(85.0, lat_c + 0.7))
        lon = lon_c - 1.2
        x, y = P.forward_from_lonlat(crs, lon, lat)
        lon2, lat2 = P.inverse_to_lonlat(crs, x, y)
        assert abs(lon2 - lon) < 1e-6 and abs(lat2 - lat) < 1e-6, \
            (wkid, fam, lon2 - lon, lat2 - lat)
        tested += 1
    assert tested >= 4400  # 97%+ of 4582


def test_supported_family_share_of_table():
    tab = _wkid_table()
    names = tab["projections"]
    total = len(tab["entries"])
    sup = sum(1 for e in tab["entries"].values()
              if not names[e[0]]
              or names[e[0]].lower() in P.SUPPORTED_PROJECTIONS)
    assert sup / total >= 0.995, f"{sup}/{total}"


# the certified CRS tail: families with table entries but no transform
# (proj4js throws on every one of these inside the reference, so an
# error IS parity). Pinned EXACTLY so a parser or table regression
# that silently drops support for an implemented family fails here.
_EXPECTED_UNSUPPORTED = {
    "New_Zealand_Map_Grid": 1,
    "Laborde_Oblique_Mercator": 2,
    "Hotine_Oblique_Mercator_Two_Point_Natural_Origin": 2,
    "Robinson": 2,   # defined by Robinson's published lookup TABLE,
                     # which cannot be re-derived from a formula; do
                     # not implement from memory
    "Fuller": 1,
    "Cube": 1,
    "Goode_Homolosine": 2,   # interrupted lobes (ESRI 'option' param)
    "Berghaus_Star": 1,
}


def test_unsupported_residual_set_is_exactly_pinned():
    """Enumerate the residual: exactly these 12 wkids across 8 exotic
    families, nothing more (a new unsupported family = table update to
    review) and nothing fewer (an implemented family regressing out of
    SUPPORTED_PROJECTIONS must fail loudly, not shrink coverage
    silently)."""
    tab = _wkid_table()
    names = tab["projections"]
    got: dict[str, int] = {}
    for e in tab["entries"].values():
        nm = names[e[0]]
        if nm and nm.lower() not in P.SUPPORTED_PROJECTIONS:
            got[nm] = got.get(nm, 0) + 1
    assert got == _EXPECTED_UNSUPPORTED
    assert sum(got.values()) == 12


def test_world_family_defining_properties():
    """First-principles pins for the round-4 world families (rule:
    fwd/inv round-trips cannot catch shared errors, so pin a property
    the projection is DEFINED by)."""
    import math
    tab = _wkid_table()
    names = tab["projections"]

    def crs_of(fam):
        w = next(w for w, e in tab["entries"].items()
                 if names[e[0]] == fam)
        return P.projection_for(_crs_for_wkid(int(w)))

    # Van der Grinten I: equator -> y=0 with x = a*dlam; central
    # meridian -> x=0; pole at the world circle's radius pi*a*tan(45/2)
    pr = crs_of("Van_der_Grinten_I")
    assert abs(pr.fwd(math.radians(47), 0.0)[0]
               - pr.a * math.radians(47)) < 1e-6
    assert abs(pr.fwd(math.radians(47), 0.0)[1]) < 1e-9
    assert abs(pr.fwd(0.0, 0.9)[0]) < 1e-9
    assert abs(pr.fwd(0.0, math.pi / 2)[1]
               - math.pi * pr.a * math.tan(math.pi / 4)) < 1e-6
    # dense world-grid roundtrip through the closed cubic inverse
    worst = 0.0
    for lon_d in range(-175, 180, 23):
        for lat_d in range(-88, 89, 11):
            lon, lat = math.radians(lon_d), math.radians(lat_d)
            lon2, lat2 = pr.inv(*pr.fwd(lon, lat))
            worst = max(worst, abs(lon2 - lon), abs(lat2 - lat))
    assert worst < 1e-9

    # Snyder PP 1395 published numerical example (R=1, dlam=-75deg,
    # phi=-50deg -> x=-1.1954154, y=-0.9960733) — an external golden,
    # not a self-referential recomputation
    unit = P.projection_for({
        "kind": "projected", "projection": "Van_der_Grinten_I",
        "a": 1.0, "rf": 0.0, "primem_deg": 0.0, "unit_to_m": 1.0,
        "params": {"false_easting": 0.0, "false_northing": 0.0,
                   "central_meridian": 0.0}})
    x, y = unit.fwd(math.radians(-75), math.radians(-50))
    assert abs(x - -1.1954154) < 1e-7 and abs(y - -0.9960733) < 1e-7
    # antimeridian wrap: lon 200 must equal lon -160, not alias onto
    # the A(dl)=A(pi^2/dl) twin at ~162.2
    p200 = unit.fwd(math.radians(200), 0.4)
    pm160 = unit.fwd(math.radians(-160), 0.4)
    p162 = unit.fwd(math.radians(162.2), 0.4)
    assert all(abs(a - b) < 1e-12 for a, b in zip(p200, pm160))
    assert any(abs(a - b) > 1e-2 for a, b in zip(p200, p162))

    # Two-point equidistant: planar distance to EACH anchor equals the
    # true angular distance (the projection's definition), anchors land
    # symmetric on the x axis
    pr = crs_of("Two_Point_Equidistant")
    x1, y1 = pr.fwd(pr.lm1, pr.ph1)
    x2, y2 = pr.fwd(pr.lm2, pr.ph2)
    assert abs(x1 + x2) < 1e-6 and abs(y1) < 1e-6 and abs(y2) < 1e-6
    for lon_d, lat_d in ((-1.2, 0.7), (100, -30), (20, 80), (59, 61)):
        lon, lat = math.radians(lon_d), math.radians(lat_d)
        x, y = pr.fwd(lon, lat)
        for (ph, lm, xa, ya) in ((pr.ph1, pr.lm1, x1, y1),
                                 (pr.ph2, pr.lm2, x2, y2)):
            true = pr._dist(ph, lm, lat, lon) * pr.a
            assert abs(math.hypot(x - xa, y - ya) - true) < 1e-6

    # Winkel II at the equator: th = 0 exactly, so
    # x = a/2 * dlam * (1 + cos(phi1)), y = 0
    pr = crs_of("Winkel_II")
    x, y = pr.fwd(math.radians(30), 0.0)
    assert abs(x - 0.5 * pr.a * math.radians(30) * (1 + pr.cosp1)) < 1e-6
    assert abs(y) < 1e-9

    # Times: published constants at phi=0 (x scale 0.74482) and the
    # y = 1.70711 * tan(phi/2) ordinate
    pr = crs_of("Times")
    assert abs(pr.fwd(math.radians(10), 0.0)[0]
               - 0.74482 * pr.a * math.radians(10)) < 1e-6
    assert abs(pr.fwd(0.0, math.radians(60))[1]
               - 1.70711 * pr.a * math.tan(math.radians(30))) < 1e-6

    # Loximuthal regression: a full world extent whose corners fall
    # OUTSIDE the lens image must reproject without raising (the pole
    # row is the x -> 0 limit, not an error), and the closed inverse
    # must round-trip worldwide
    tab2 = _wkid_table()
    lox_wkid = next(int(w) for w, e in tab2["entries"].items()
                    if tab2["projections"][e[0]] == "Loximuthal")
    bounds_from_extent({"xmin": -18304932, "ymin": -14550399,
                        "xmax": 18304932, "ymax": 5560353,
                        "spatialReference": {"wkid": lox_wkid}})

    # Loximuthal: along the central parallel x degenerates to the
    # equirectangular limit dlam*cos(phi1); the straight segment from
    # the origin to any image point has TRUE rhumb length
    pr = crs_of("Loximuthal")
    assert abs(pr.fwd(math.radians(20), pr.phi1)[0]
               - pr.a * math.radians(20) * math.cos(pr.phi1)) < 1e-6
    # both poles collapse to x = 0 (tan(pi/2) is a huge finite float,
    # so the north pole needs the explicit |lat| guard)
    assert pr.fwd(math.radians(179), math.pi / 2)[0] == 0.0
    assert pr.fwd(math.radians(179), -math.pi / 2)[0] == 0.0
    lon, lat = math.radians(-70), math.radians(-10)
    x, y = pr.fwd(lon, lat)
    ln = math.log(math.tan(math.pi / 4 + lat / 2)
                  / math.tan(math.pi / 4 + pr.phi1 / 2))
    rhumb = abs(lat - pr.phi1) * math.sqrt(1 + (lon / ln) ** 2)
    assert abs(math.hypot(x, y) - pr.a * rhumb) < 1e-6


def test_colombia_urban_igac_plano_cartesiano():
    """EPSG method 1052 (IOGP GN 7-2) over all 32 IGAC table entries:
    the origin maps exactly to (FE, FN); fwd∘inv is identity; and the
    height-dependent plane scales are pinned from first principles —
    an eastward step divided by the ellipsoidal parallel arc must be
    A = 1 + h0/nu0, a northward step over the meridian arc must be
    G = 1 + h0/rho0 (catches shared scale errors that a round-trip
    alone cannot, per the fwd/inv-blind-spot rule)."""
    import math
    tab = _wkid_table()
    names = tab["projections"]
    tested = 0
    for w, e in tab["entries"].items():
        if names[e[0]] != "IGAC_Plano_Cartesiano":
            continue
        crs = _crs_for_wkid(int(w))
        pr = P.projection_for(crs)
        p = e[5]
        lam0 = math.radians(p["longitude_of_center"])
        phi0 = math.radians(p["latitude_of_center"])
        x, y = pr.fwd(lam0, phi0)
        assert abs(x - p["false_easting"]) < 1e-6
        assert abs(y - p["false_northing"]) < 1e-6
        lon, lat = lam0 + math.radians(0.05), phi0 - math.radians(0.04)
        x, y = pr.fwd(lon, lat)
        lon2, lat2 = pr.inv(x, y)
        assert abs(lon2 - lon) < 1e-12 and abs(lat2 - lat) < 1e-12
        dl = 1e-6
        nu0 = pr.a / math.sqrt(1 - pr.e2 * math.sin(phi0) ** 2)
        e_step = pr.fwd(lam0 + dl, phi0)[0] - p["false_easting"]
        assert abs(e_step / (nu0 * math.cos(phi0) * dl) - pr.A) < 1e-9
        n_step = pr.fwd(lam0, phi0 + dl)[1] - p["false_northing"]
        assert abs(n_step / (pr.rho0 * dl) - pr.G) < 1e-9
        if p.get("height", 0.0) > 0.0:     # 102772 is at sea level
            assert pr.A > 1.0 and pr.G > 1.0
        else:
            assert pr.A == 1.0 and pr.G == 1.0
        tested += 1
    assert tested == 32


def test_unsupported_family_raises_like_proj4js():
    """New_Zealand_Map_Grid has a table entry but no transform here or
    in proj4js — the engine raises the dedicated error instead of
    silently passing through."""
    tab = _wkid_table()
    names = tab["projections"]
    wkid = next(w for w, e in tab["entries"].items()
                if names[e[0]] == "New_Zealand_Map_Grid")
    ext = {"xmin": 0.0, "ymin": 0.0, "xmax": 1000.0, "ymax": 1000.0,
           "spatialReference": {"wkid": int(wkid)}}
    with pytest.raises(P.UnsupportedProjectionError):
        bounds_from_extent(ext)


def test_web_mercator_builtin_fallback():
    """102100 is absent from the table (like proj4js's built-in
    EPSG:3857 role); the spherical fast path serves it."""
    ext = {"xmin": -13247019.0, "ymin": 4010469.0,
           "xmax": -13013502.0, "ymax": 4179567.0,
           "spatialReference": {"wkid": 102100, "latestWkid": 3857}}
    # NB: latestWkid 3857 IS in the table (ellipsoid-param mercator on
    # the auxiliary sphere) — both paths must agree to ~1e-6
    got = bounds_from_extent(ext)
    assert -119.1 < got[0] < -118.9 and 33.7 < got[1] < 33.9


def test_utm_published_constants():
    """UTM zone 31N (wkid 32631) against the textbook constants: the
    zone edge at the equator maps to E 166021.443 m, the central
    meridian to exactly E 500000."""
    crs = _crs_for_wkid(32631)
    x, y = P.forward_from_lonlat(crs, 0.0, 0.0)
    assert abs(x - 166021.443) < 0.01 and abs(y) < 1e-6
    x, y = P.forward_from_lonlat(crs, 3.0, 0.0)
    assert abs(x - 500000.0) < 1e-6 and abs(y) < 1e-6
    lon, lat = P.inverse_to_lonlat(crs, 166021.443, 0.0)
    assert abs(lon) < 1e-7 and abs(lat) < 1e-9


def test_web_mercator_published_constant():
    """3857 table entry: the antimeridian maps to the canonical
    20037508.342789244 m."""
    crs = _crs_for_wkid(3857)
    x, y = P.forward_from_lonlat(crs, 180.0, 0.0)
    assert abs(x - 20037508.342789244) < 1e-3
    assert abs(y) < 1e-6


def test_proj_roundtrip_property(subtests=None):
    """Hypothesis sweep: random points within each family's sane
    domain round-trip through a representative CRS of that family."""
    from hypothesis import given, settings, strategies as st

    tab = _wkid_table()
    names = tab["projections"]
    reps = {}
    for wkid, e in tab["entries"].items():
        fam = (names[e[0]] or "").lower()
        if fam in P.SUPPORTED_PROJECTIONS and fam not in reps:
            reps[fam] = int(wkid)

    @settings(max_examples=200, deadline=None)
    @given(st.sampled_from(sorted(reps)),
           st.floats(-2.0, 2.0), st.floats(-2.0, 2.0))
    def check(fam, dlon, dlat):
        crs = _crs_for_wkid(reps[fam])
        p = crs["params"]
        lat_c = p.get("latitude_of_origin",
                      p.get("latitude_of_center",
                            p.get("standard_parallel_1", 0.0)))
        lon_c = p.get("central_meridian",
                      p.get("longitude_of_center", 0.0)) \
            + crs["primem_deg"]
        lon = lon_c + dlon
        lat = max(-85.0, min(85.0, lat_c + dlat))
        x, y = P.forward_from_lonlat(crs, lon, lat)
        lon2, lat2 = P.inverse_to_lonlat(crs, x, y)
        assert abs(lon2 - lon) < 1e-6 and abs(lat2 - lat) < 1e-6

    check()


def test_south_polar_stereographic_epsg_vector():
    """EPSG Guidance 7-2 Petrels 1972 / Terre Adelie worked example
    (wkid 2985, ESRI variant-C-as-south-pole params): longitude must
    NOT mirror in the south aspect."""
    crs = _crs_for_wkid(2985)
    lat = -(66 + 36 / 60 + 18.820 / 3600)
    lon = 140 + 4 / 60 + 17.040 / 3600
    x, y = P.forward_from_lonlat(crs, lon, lat)
    assert abs(x - 303169.52) < 0.05 and abs(y - 244055.72) < 0.05
    lon2, lat2 = P.inverse_to_lonlat(crs, 303169.52, 244055.72)
    assert abs(lon2 - lon) < 1e-6 and abs(lat2 - lat) < 1e-6


def test_krovak_axis_conventions():
    """5513 (classic): positive southing/westing, southing > westing at
    Prague; 5514 (East North, xs=-1/rot=90): exactly (-westing,
    -southing) of 5513 — the EPSG 5514 negative easting/northing."""
    c13 = _crs_for_wkid(5513)
    c14 = _crs_for_wkid(5514)
    lon, lat = 14.42076, 50.08804   # Prague
    x13, y13 = P.forward_from_lonlat(c13, lon, lat)
    x14, y14 = P.forward_from_lonlat(c14, lon, lat)
    assert 1_000_000 < x13 < 1_100_000     # southing
    assert 700_000 < y13 < 800_000         # westing
    assert abs(x14 + y13) < 1e-6 and abs(y14 + x13) < 1e-6
    lon2, lat2 = P.inverse_to_lonlat(c14, x14, y14)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-8


def test_wkt_parser_nested_structure():
    wkt = json.load(open(WKT_FIXTURE))["2000"]
    crs = P.crs_from_wkt(wkt)
    assert crs["projection"] == "Transverse_Mercator"
    assert crs["a"] == 6378249.145
    assert crs["params"]["central_meridian"] == -62.0
    assert crs["unit_to_m"] == 1.0


def test_gnomonic_horizon_and_vnsp_domain_errors():
    """Round-3 guards: points at/beyond the gnomonic horizon and
    inverse iterations leaving the VNSP visibility cap raise a clean
    ValueError, not ZeroDivisionError or a bare cap error."""
    import math
    crs = {"projection": "gnomonic", "a": 6378137.0, "rf": 298.257,
           "unit_to_m": 1.0,
           "params": {"central_meridian": 0.0, "latitude_of_origin": 0.0}}
    g = P.projection_for(crs)
    # interior point works
    x, y = g.fwd(math.radians(10), math.radians(10))
    lon, lat = g.inv(x, y)
    assert abs(math.degrees(lon) - 10) < 1e-6
    # antipode / horizon: ValueError, never ZeroDivisionError
    for lam, phi in ((math.pi, 0.0), (math.pi / 2, 0.0),
                     (math.radians(179), math.radians(45))):
        with pytest.raises(ValueError):
            g.fwd(lam, phi)

    vcrs = {"projection": "vertical_near_side_perspective",
            "a": 6378137.0, "rf": 298.257, "unit_to_m": 1.0,
            "params": {"central_meridian": 0.0,
                       "latitude_of_origin": 0.0,
                       "height": 35_800_000.0}}
    v = P.projection_for(vcrs)
    x, y = v.fwd(math.radians(20), math.radians(15))
    lon, lat = v.inv(x, y)
    assert abs(math.degrees(lat) - 15) < 1e-6
    with pytest.raises(ValueError):
        v.fwd(math.radians(170), 0.0)  # beyond the visible cap
    # an inverse far outside the projected disk must fail with
    # ValueError (Newton steps leave the cap), not a raw cap error
    with pytest.raises(ValueError):
        v.inv(6378137.0 * 50, 0.0)


def test_non_numeric_wkid_falls_back_to_passthrough():
    """Reference parity (lib/tilejson.ts:101): a spatialReference with
    no wkt and no NUMERIC wkid/latestWkid falls back to 'EPSG:4326' —
    an identity proj4 call — so the raw extent passes through instead
    of raising."""
    for sr in ({"wkid": "3857"}, {"vcsWkid": 5703}, {"foo": 1}):
        ext = {"xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0,
               "spatialReference": sr}
        assert bounds_from_extent(ext) == [1.0, 2.0, 3.0, 4.0], sr


def test_double_stereographic_epsg_9809_worked_example():
    """EPSG Guidance Note 7-2 Oblique Stereographic example
    (Amersfoort / RD New, Bessel 1841): 53N 6E ->
    E 196105.283 m, N 557057.739 m. The Gauss-Schreiber double
    projection — NOT Snyder's single-step ellipsoidal stereographic,
    which lands meters away."""
    import math
    crs = {"a": 6377397.155, "rf": 299.15281, "unit_to_m": 1.0,
           "params": {"latitude_of_origin": 52 + 9/60 + 22.178/3600,
                      "central_meridian": 5 + 23/60 + 15.5/3600,
                      "scale_factor": 0.9999079,
                      "false_easting": 155000.0,
                      "false_northing": 463000.0}}
    st = P._Sterea(crs)
    x, y = st.fwd(math.radians(6.0), math.radians(53.0))
    assert abs(x - 196105.283) < 2e-3 and abs(y - 557057.739) < 2e-3
    lon, lat = st.inv(196105.283, 557057.739)
    assert abs(math.degrees(lon) - 6.0) < 1e-8
    assert abs(math.degrees(lat) - 53.0) < 1e-8
    # the registry maps ESRI Double_Stereographic to this class
    assert P.SUPPORTED_PROJECTIONS["double_stereographic"] is P._Sterea


def test_oblique_stereographic_scale_at_origin_is_k0():
    """Conformal-projection invariant: the scale factor at the natural
    origin equals k0 in every direction. Catches the missing
    m1/cos(chi1) factor of Snyder 21-29 (a ~0.2% scale error at
    mid-latitudes) that fwd/inv round-trips can never see."""
    import math
    k0 = 0.9999079
    crs = {"a": 6378137.0, "rf": 298.257223563, "unit_to_m": 1.0,
           "params": {"latitude_of_origin": 52.15616056,
                      "central_meridian": 5.38763889,
                      "scale_factor": k0,
                      "false_easting": 0.0, "false_northing": 0.0}}
    lat0, lon0 = math.radians(52.15616056), math.radians(5.38763889)
    a, e2 = 6378137.0, P._e2(298.257223563)
    M = a * (1 - e2) / (1 - e2 * math.sin(lat0) ** 2) ** 1.5
    N = a / math.sqrt(1 - e2 * math.sin(lat0) ** 2)
    d = 1e-7
    for cls in (P._Stere, P._Sterea):
        pr = cls(crs)
        x1, y1 = pr.fwd(lon0, lat0)
        x2, y2 = pr.fwd(lon0, lat0 + d)
        x3, y3 = pr.fwd(lon0 + d, lat0)
        k_mer = math.hypot(x2 - x1, y2 - y1) / (M * d)
        k_par = math.hypot(x3 - x1, y3 - y1) / (N * math.cos(lat0) * d)
        assert abs(k_mer - k0) < 1e-6, cls.__name__
        assert abs(k_par - k0) < 1e-6, cls.__name__


def test_parse_wkt_truncated_raises_value_error():
    for bad in ('GEOGCS["a",', 'PROJCS["x', 'GEOGCS["a", DATUM["d"'):
        with pytest.raises(ValueError, match="truncated WKT"):
            P.parse_wkt(bad)


def test_boolean_wkid_falls_back_like_non_numeric():
    """typeof true !== 'number' in the reference — a boolean wkid must
    take the EPSG:4326 passthrough, not raise via int(True) == 1."""
    ext = {"xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0,
           "spatialReference": {"wkid": True}}
    assert bounds_from_extent(ext) == [1.0, 2.0, 3.0, 4.0]
