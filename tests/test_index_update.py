"""Incremental index maintenance (R5/R6): delete_zone / add_zone /
replace_zone must be BYTE-IDENTICAL to a fresh compile_cover over the
updated zone list — the strongest possible parity claim, checked field by
field including dtypes. The reference exposes Delete/Replace on its store
(rtree R5/R6); the engine maps them to CSR splicing on the compiled cover
(only the kNN candidate table is recompiled, from bboxes alone).
"""

import numpy as np
import pytest

from tzspark.cells import (
    CompiledIndex,
    Zone,
    add_zone,
    compile_cover,
    delete_zone,
    knn_fallback,
    replace_zone,
    resolve_points,
)
from tzspark.zones import make_zones, oracle_assign

ARRAY_FIELDS = (
    "b_cells", "b_off", "b_zone", "b_edge_off", "b_edge_idx",
    "ea_lat", "ea_lng", "eb_lat", "eb_lng", "zone_edge_off",
    "knn_off", "knn_zidx",
)
OPT_FIELDS = ("b_ea_lat", "b_ea_lng", "b_eb_lat", "b_eb_lng")


def assert_index_equal(x: CompiledIndex, y: CompiledIndex):
    assert x.base_res == y.base_res and x.max_res == y.max_res
    assert np.array_equal(x.zone_ids, y.zone_ids)
    assert x.tzids == y.tzids
    assert np.array_equal(x.zone_bbox, y.zone_bbox)
    for r in range(x.base_res, x.max_res + 1):
        for a, b in zip(x.full[r], y.full[r]):
            assert a.dtype == b.dtype and np.array_equal(a, b), f"full[{r}]"
    for f in ARRAY_FIELDS:
        a, b = getattr(x, f), getattr(y, f)
        assert a.dtype == b.dtype and np.array_equal(a, b), f
    for f in OPT_FIELDS:
        a, b = getattr(x, f), getattr(y, f)
        assert (a is None) == (b is None), f
        if a is not None:
            assert np.array_equal(a, b), f
    assert x.stats == y.stats


@pytest.fixture(scope="module")
def zones():
    return make_zones(n_coast=500)


@pytest.fixture(scope="module")
def idx_all(zones):
    return compile_cover(zones, workers=1)


def test_delete_equals_fresh_compile(zones, idx_all):
    zid = zones[7].zone_id
    rest = [z for z in zones if z.zone_id != zid]
    assert_index_equal(delete_zone(idx_all, zid), compile_cover(rest, workers=1))


def test_delete_first_and_last(zones, idx_all):
    assert_index_equal(
        delete_zone(idx_all, zones[0].zone_id), compile_cover(zones[1:], workers=1)
    )
    assert_index_equal(
        delete_zone(idx_all, zones[-1].zone_id), compile_cover(zones[:-1], workers=1)
    )


def test_add_equals_fresh_compile(zones, idx_all):
    zid = zones[7].zone_id
    rest = [z for z in zones if z.zone_id != zid]
    assert_index_equal(
        add_zone(compile_cover(rest, workers=1), zones[7]), idx_all
    )


def test_replace_modified_geometry(zones, idx_all):
    z = zones[7]
    z2 = Zone(
        z.zone_id, z.tzid,
        z.ring_lat + np.float32(1.5), z.ring_lng - np.float32(0.5),
    )
    mod = [z2 if zz.zone_id == z.zone_id else zz for zz in zones]
    assert_index_equal(replace_zone(idx_all, z2), compile_cover(mod, workers=1))


def test_updated_index_resolves_like_oracle(zones, idx_all):
    """Behavioral check on top of the structural one: resolve + kNN through
    a deleted-and-replaced index match the committed golden oracle over the
    updated zone list."""
    z = zones[3]
    grown = Zone(
        z.zone_id, z.tzid,
        z.ring_lat * np.float32(1.1), z.ring_lng * np.float32(1.1),
    )
    idx2 = replace_zone(delete_zone(idx_all, zones[11].zone_id), grown)
    live = [grown if zz.zone_id == z.zone_id else zz
            for zz in zones if zz.zone_id != zones[11].zone_id]
    rng = np.random.default_rng(5)
    lat = rng.uniform(-10, 46, 4000).astype(np.float32)
    lng = rng.uniform(-10, 46, 4000).astype(np.float32)
    got = resolve_points(idx2, lat, lng)
    un = got == -1
    got[un] = knn_fallback(idx2, lat[un], lng[un])
    exp = oracle_assign(live, lat, lng)
    assert (got == exp).all()


def test_add_degenerate_ring_is_noop_for_matching(zones, idx_all):
    """<3-vertex rings never match (polygon.go:101-103) — adding one must
    keep every resolve answer, while still registering the zone row."""
    deg = Zone(99999, "Test/Degenerate",
               np.array([1.0, 2.0], np.float32), np.array([1.0, 2.0], np.float32))
    idx2 = add_zone(idx_all, deg)
    assert idx2.stats["zones"] == idx_all.stats["zones"] + 1
    rng = np.random.default_rng(6)
    lat = rng.uniform(-10, 46, 2000).astype(np.float32)
    lng = rng.uniform(-10, 46, 2000).astype(np.float32)
    assert np.array_equal(resolve_points(idx2, lat, lng),
                          resolve_points(idx_all, lat, lng))
    assert_index_equal(idx2, compile_cover(zones + [deg], workers=1))


def test_errors(zones, idx_all):
    with pytest.raises(KeyError):
        delete_zone(idx_all, 123456)
    with pytest.raises(KeyError):
        add_zone(idx_all, zones[0])


def test_input_index_not_mutated(zones, idx_all):
    before = {f: (getattr(idx_all, f).copy() if getattr(idx_all, f) is not None
                  else None) for f in ARRAY_FIELDS}
    delete_zone(idx_all, zones[5].zone_id)
    add_zone(idx_all, Zone(88888, "Test/New",
                           np.array([70, 70, 71, 71], np.float32),
                           np.array([10, 11, 11, 10], np.float32)))
    for f, v in before.items():
        assert np.array_equal(getattr(idx_all, f), v), f


def _rows(df):
    return sorted(tuple(r) for r in df.select("image_id", "zone_id", "via_knn").collect())


def test_facade_assign_after_edits_matches_fresh_lookup(spark, zones, monkeypatch, tmp_path):
    """TimezoneLookup reuses its broadcast cover, zone dim and cover tables
    across calls in one application; a zone edit must drop them. After
    replace_zone and after delete_zone, assign and assign_join answer like
    a TimezoneLookup freshly built over the edited zone list, the replaced
    broadcast is unpersisted, and calls between edits share one broadcast."""
    from pyspark import SparkContext
    from pyspark.core.broadcast import Broadcast

    from tzspark.api import TimezoneLookup
    from tzspark.datasets import images_df

    made, unpersisted = [], []
    real_broadcast, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def broadcast(self, value):
        made.append(real_broadcast(self, value))
        return made[-1]

    def unpersist(self, blocking=False):
        unpersisted.append(self)
        real_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)

    imgs = images_df(spark, 2000, partitions=4)
    tl = TimezoneLookup(zones)
    before = _rows(tl.assign(spark, imgs))
    assert _rows(tl.assign(spark, imgs)) == before
    # results of two calls share the memoized UDF and dim, and still combine
    both = tl.assign(spark, imgs).unionByName(tl.assign(spark, imgs))
    assert _rows(both) == sorted(before * 2)
    assert _rows(tl.assign_join(spark, imgs)) == before
    assert _rows(tl.assign_join(spark, imgs, cache_dir=str(tmp_path))) == before
    assert len(made) == 1  # two assigns, one broadcast; assign_join adds none

    # the two zones that resolve the most rows without kNN: editing them
    # must change answers, so a stale cover cannot pass unnoticed
    hits = {}
    for _, zid, via in before:
        if not via:
            hits[zid] = hits.get(zid, 0) + 1
    busiest = sorted(hits, key=hits.get)[-2:]
    z = next(z for z in tl.zones if z.zone_id == busiest[0])
    # a homothety keeps the ring simple; half size about its first vertex
    shrunk = Zone(z.zone_id, z.tzid,
                  z.ring_lat[0] + (z.ring_lat - z.ring_lat[0]) * np.float32(0.5),
                  z.ring_lng[0] + (z.ring_lng - z.ring_lng[0]) * np.float32(0.5))

    last = before
    for edit in (lambda: tl.replace_zone(shrunk), lambda: tl.delete_zone(busiest[1])):
        old = made[-1]
        edit()
        assert unpersisted[-1] is old
        want = _rows(TimezoneLookup(list(tl.zones)).assign(spark, imgs))
        assert want != last
        n = len(made)
        assert _rows(tl.assign(spark, imgs)) == want
        assert _rows(tl.assign(spark, imgs)) == want
        assert _rows(tl.assign_join(spark, imgs)) == want
        # parquet cover tables are keyed by zone content: a stale key loads
        # the pre-edit tables
        assert _rows(tl.assign_join(spark, imgs, cache_dir=str(tmp_path))) == want
        assert len(made) == n + 1
        assert made[-1]._jbroadcast.id() != old._jbroadcast.id()
        last = want
