"""Deterministic synthetic ``docs`` table generator.

Input contract per BASELINE.json.input_hint / FIXTURES.md §1: one table
``docs(doc_id string, spans array<struct<kind string, text string,
media_ref string, offset int>>)`` of interleaved text+media documents.
Each doc carries one OSM-like scene; span ``text`` is a ``;``-separated
``k=v`` packing:

  kind=node        id=<i64>;lon=<i32>;lat=<i32>;ver=<int>;ts=<i64>
  kind=tag         elem=<node|way|rel>;id=<i64>;k=<key>;v=<val>
  kind=way_ref     way=<i64>;pos=<int>;ref=<node_id>
  kind=rel_member  rel=<i64>;pos=<int>;type=<node|way|rel>;ref=<i64>;role=<outer|inner|>
  kind=media       tile=<z>/<x>/<y>   (media_ref holds the same value)

Span order within a doc is CANONICAL (nodes by id, way_refs by
(way,pos), rel_members by (rel,pos), tags by (elem-rank,id,key), media
by tile) so the per-row invariant — decode → re-encode gives exactly
the input sequence — is checkable in plain SQL.

Everything is a pure function of (doc index, seed=42): scenes repeat
round-robin across a deterministic coordinate grid with fresh ids
(FIXTURES.md §4 "scale knobs"), so the same code path runs at test and
bench sizes.  Scene catalogue mirrors FIXTURES.md §4.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

U = 20000  # scene coordinate unit: 0.002 deg in fixed-point 1e-7

SPAN_TYPE = pa.struct([
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("spans", pa.list_(SPAN_TYPE)),
])


def _base_coords(i: int) -> tuple[int, int]:
    """Deterministic pseudo-random scene origin, independent of n_docs."""
    h1 = (i * 2654435761 + 42) % (2 ** 32)
    h2 = (i * 40503 * 65537 + 97) % (2 ** 32)
    lon = int((h1 / 2 ** 32) * 320.0 - 160.0) * 10**7 + (h2 % 10**5)
    lat = int((h2 / 2 ** 32) * 140.0 - 70.0) * 10**7 + (h1 % 10**5)
    return lon, lat


class Scene:
    """Collects one doc's primitives, then emits canonical spans."""

    def __init__(self, doc_idx: int):
        self.doc_idx = doc_idx
        self.base = doc_idx * 1000
        self.lon0, self.lat0 = _base_coords(doc_idx)
        self.nodes: list[tuple[int, int, int]] = []
        self.tags: list[tuple[str, int, str, str]] = []
        self.ways: list[tuple[int, list[int]]] = []
        self.rels: list[tuple[int, list[tuple[str, int, str]]]] = []
        self.media: list[str] = []

    # -- builders -------------------------------------------------------------

    def node(self, n: int, dx: int, dy: int, tags: dict | None = None) -> int:
        nid = self.base + n
        self.nodes.append((nid, self.lon0 + dx, self.lat0 + dy))
        for k, v in (tags or {}).items():
            self.tags.append(("node", nid, k, v))
        return nid

    def way(self, n: int, refs: list[int], tags: dict | None = None) -> int:
        wid = self.base + n
        self.ways.append((wid, refs))
        for k, v in (tags or {}).items():
            self.tags.append(("way", wid, k, v))
        return wid

    def rel(self, n: int, members: list[tuple[str, int, str]],
            tags: dict | None = None) -> int:
        rid = self.base + n
        self.rels.append((rid, members))
        for k, v in (tags or {}).items():
            self.tags.append(("rel", rid, k, v))
        return rid

    def media_tile(self, zoom: int = 14) -> None:
        """Raster tile covering the scene origin."""
        n = 1 << zoom
        x = (self.lon0 * 1e-7 + 180.0) / 360.0
        latr = math.radians(max(-85.05, min(85.05, self.lat0 * 1e-7)))
        y = (1.0 - math.log(math.tan(math.pi / 4 + latr / 2)) / math.pi) / 2.0
        tx = min(int(x * n), n - 1)
        ty = min(int(y * n), n - 1)
        self.media.append(f"{zoom}/{tx}/{ty}")

    def ring(self, n0: int, w0: int, coords: list[tuple[int, int]],
             way_tags: dict | None = None, n_ways: int = 1,
             reverse_way: int = -1) -> tuple[list[int], list[int]]:
        """Closed ring from coords (not repeated); optionally split into
        n_ways consecutive ways, optionally reversing one of them.
        Returns (node_ids, way_ids)."""
        nids = [self.node(n0 + i, dx, dy) for i, (dx, dy) in enumerate(coords)]
        closed = nids + [nids[0]]
        wids = []
        k = len(coords) // n_ways
        starts = [i * k for i in range(n_ways)] + [len(coords)]
        for w in range(n_ways):
            seq = closed[starts[w]: starts[w + 1] + 1]
            if w == reverse_way:
                seq = list(reversed(seq))
            wids.append(self.way(w0 + w, seq, dict(way_tags or {}) if w == 0 else None))
        return nids, wids

    # -- canonical span emission ----------------------------------------------

    def spans(self) -> list[tuple[str, str, str]]:
        out: list[tuple[str, str, str]] = []
        for nid, lon, lat in sorted(self.nodes):
            # element Info metadata (SURVEY §1.1 `info:Option<Info>`):
            # deterministic version/timestamp derived from the id
            ver = 1 + nid % 7
            ts = 1_400_000_000 + (nid * 8647) % 500_000_000
            out.append(("node",
                        f"id={nid};lon={lon};lat={lat};ver={ver};ts={ts}",
                        ""))
        for wid, refs in sorted(self.ways):
            for pos, r in enumerate(refs):
                out.append(("way_ref", f"way={wid};pos={pos};ref={r}", ""))
        for rid, members in sorted(self.rels):
            for pos, (mt, mr, role) in enumerate(members):
                out.append(("rel_member",
                            f"rel={rid};pos={pos};type={mt};ref={mr};role={role}", ""))
        rank = {"node": 0, "way": 1, "rel": 2}
        for elem, eid, k, v in sorted(self.tags, key=lambda t: (rank[t[0]], t[1], t[2])):
            out.append(("tag", f"elem={elem};id={eid};k={k};v={v}", ""))
        for t in sorted(self.media):
            out.append(("media", f"tile={t}", t))
        return out


# ---------------------------------------------------------------------------
# scene catalogue (FIXTURES.md §4)
# ---------------------------------------------------------------------------

def scene_points(s: Scene) -> None:
    s.node(1, 0, 0, {"amenity": "cafe", "name": "A"})
    s.node(2, U, 0, {"shop": "bakery", "layer": "2"})
    s.node(3, 0, U, {"highway": "bus_stop"})
    s.node(4, U, U, {"tourism": "hotel", "layer": "not_an_int"})
    s.node(5, 2 * U, 0, {"name": "no feature key"})   # location-only
    s.node(6, 2 * U, U)                                # untagged location-only


def scene_line_vs_poly(s: Scene) -> None:
    a = s.node(1, 0, 0)
    b = s.node(2, U, 0)
    c = s.node(3, U, U)
    d = s.node(4, 0, U)
    s.way(10, [a, b, c], {"highway": "residential", "name": "open way"})
    # closed, clockwise-in-lonlat (positive reference area): building
    s.way(11, [a, d, c, b, a], {"building": "yes"})
    # closed but NOT a polygon feature (highway=footway not in include list)
    e = s.node(5, 3 * U, 0)
    f = s.node(6, 4 * U, 0)
    g = s.node(7, 4 * U, U)
    s.way(12, [e, f, g, e], {"highway": "footway"})
    # closed counter-clockwise building -> reversed=true
    h = s.node(8, 6 * U, 0)
    i = s.node(9, 7 * U, 0)
    j = s.node(11, 7 * U, U)
    k = s.node(12, 6 * U, U)
    s.way(13, [h, i, j, k, h], {"building": "warehouse"})


def scene_donut(s: Scene) -> None:
    sq = [(0, 0), (8 * U, 0), (8 * U, 8 * U), (0, 8 * U)]
    _, outer_ways = s.ring(20, 30, sq, n_ways=3, reverse_way=1)
    hole = [(2 * U, 2 * U), (6 * U, 2 * U), (6 * U, 6 * U), (2 * U, 6 * U)]
    _, inner_ways = s.ring(40, 50, hole, n_ways=2)
    members = ([("way", w, "outer") for w in outer_ways]
               + [("way", w, "inner") for w in inner_ways])
    s.rel(60, members, {"type": "multipolygon", "landuse": "forest"})


def scene_multi_part(s: Scene) -> None:
    sq1 = [(0, 0), (6 * U, 0), (6 * U, 6 * U), (0, 6 * U)]
    _, w1 = s.ring(20, 25, sq1)
    sq2 = [(20 * U, 0), (26 * U, 0), (26 * U, 6 * U), (20 * U, 6 * U)]
    _, w2 = s.ring(30, 35, sq2)
    h1 = [(U, U), (2 * U, U), (2 * U, 2 * U), (U, 2 * U)]
    _, wh1 = s.ring(40, 45, h1)
    h2 = [(21 * U, U), (22 * U, U), (22 * U, 2 * U), (21 * U, 2 * U)]
    _, wh2 = s.ring(50, 55, h2)
    orphan = [(60 * U, 60 * U), (61 * U, 60 * U), (61 * U, 61 * U)]
    _, wo = s.ring(70, 75, orphan)
    members = ([("way", w, "outer") for w in w1 + w2]
               + [("way", w, "inner") for w in wh1 + wh2 + wo])
    s.rel(80, members, {"type": "multipolygon", "natural": "water"})


def scene_missing_member(s: Scene) -> None:
    a = s.node(1, 0, 0)
    b = s.node(2, U, 0)
    # way referencing a node that never appears
    s.way(10, [a, b, s.base + 999], {"highway": "service"})
    # fine way
    c = s.node(3, 0, U)
    w = s.way(11, [a, b, c, a], {"building": "yes"})
    # relation referencing a way id that never appears
    s.rel(20, [("way", w, "outer"), ("way", s.base + 888, "outer")],
          {"type": "multipolygon", "landuse": "grass"})


def scene_parent_tags(s: Scene) -> None:
    stop = s.node(1, 0, 0, {"highway": "bus_stop", "name": "stop"})
    a = s.node(2, -U, 0)
    b = s.node(3, U, 0)
    c = s.node(4, 0, -U)
    d = s.node(5, 0, U)
    s.way(10, [a, stop, b], {"highway": "residential"})
    s.way(11, [c, stop, d], {"highway": "primary"})
    # highway node on a service way -> parent_service (node_keys
    # [highway] per default_style.rs parent_service)
    rn = s.node(6, 3 * U, 0, {"highway": "crossing"})
    e = s.node(7, 4 * U, 0)
    s.way(12, [rn, e], {"service": "siding", "railway": "rail"})
    # equal-priority ties -> lowest way id wins (addparenttag.rs
    # first-way-in-stream): parent_service's empty priority map makes
    # every value priority 0, so the way id decides
    tn = s.node(8, -3 * U, 0, {"highway": "give_way"})
    f1 = s.node(9, -4 * U, 0)
    f2 = s.node(13, -2 * U, 0)
    s.way(13, [f1, tn], {"service": "driveway"})
    s.way(14, [tn, f2], {"service": "yard"})
    rx = s.node(14, 6 * U, 0, {"highway": "stop"})
    g1 = s.node(15, 5 * U, 0)
    g2 = s.node(16, 7 * U, 0)
    s.way(15, [g1, rx], {"service": "alley"})
    s.way(16, [rx, g2], {"service": "parking_aisle"})
    # railway-keyed node inherits parent_highway (node_keys include
    # railway); track(7) beats service(6) on the priority ladder
    rw = s.node(17, 9 * U, 0, {"railway": "buffer_stop"})
    h1 = s.node(18, 8 * U, 0)
    h2 = s.node(19, 10 * U, 0)
    s.way(17, [h1, rw], {"highway": "service"})
    s.way(18, [rw, h2], {"highway": "track"})


def scene_relation_tags(s: Scene) -> None:
    a = s.node(1, 0, 0)
    b = s.node(2, U, 0)
    c = s.node(3, 2 * U, 0)
    w1 = s.way(10, [a, b], {"highway": "tertiary"})
    w2 = s.way(11, [b, c], {"highway": "tertiary"})
    s.rel(20, [("way", w1, ""), ("way", w2, "")],
          {"type": "boundary", "boundary": "administrative", "admin_level": "4"})
    s.rel(21, [("way", w1, "")],
          {"type": "boundary", "boundary": "administrative", "admin_level": "6"})
    s.rel(22, [("way", w1, ""), ("way", w2, "")],
          {"type": "route", "route": "bus", "ref": "42"})
    s.rel(23, [("way", w1, "")],
          {"type": "route", "route": "bus", "ref": "7"})
    s.rel(24, [("way", w1, "")],
          {"type": "route", "route": "bus", "ref": "42"})  # duplicate ref


def scene_tile_boundary(s: Scene) -> None:
    # a long line spanning ~0.35 deg: crosses z12 tile edges
    a = s.node(1, 0, 0)
    b = s.node(2, 1750000, 0)
    c = s.node(3, 3500000, 900000)
    s.way(10, [a, b, c], {"highway": "trunk"})
    sq = [(0, 0), (1800000, 0), (1800000, 1800000), (0, 1800000)]
    _, _ = s.ring(20, 30, sq, way_tags={"landuse": "farmland"})
    s.media_tile(12)


def scene_minzoom(s: Scene) -> None:
    s.node(1, 0, 0, {"place": "city", "name": "metropolis"})
    s.node(2, U, 0, {"place": "hamlet"})          # '*' wildcard
    s.node(3, 2 * U, 0, {"name": "nozoomrule"})   # no rule (and no feature key)
    a = s.node(4, 0, U)
    b = s.node(5, 4 * U, U)
    s.way(10, [a, b], {"highway": "motorway"})
    tiny = [(0, 3 * U), (300, 3 * U), (300, 3 * U + 300)]
    s.ring(20, 30, tiny, way_tags={"building": "shed"})
    big = [(10 * U, 0), (400 * U, 0), (400 * U, 300 * U), (10 * U, 300 * U)]
    s.ring(40, 50, big, way_tags={"landuse": "forest"})


def scene_media_join(s: Scene) -> None:
    s.node(1, 0, 0, {"amenity": "fountain"})
    sq = [(0, 0), (2 * U, 0), (2 * U, 2 * U), (0, 2 * U)]
    s.ring(10, 20, sq, way_tags={"leisure": "park"})
    s.media_tile(14)
    s.media_tile(16)


def scene_skew(s: Scene) -> None:
    """Mega-relation (48 member ways) + a node shared by 24 ways."""
    n_seg = 48
    coords = []
    for i in range(n_seg * 2):
        ang = 2 * math.pi * i / (n_seg * 2)
        coords.append((int(10 * U * math.cos(ang)), int(10 * U * math.sin(ang))))
    _, wids = s.ring(100, 400, coords, n_ways=n_seg,
                     way_tags={"natural": "coastline"})
    s.rel(900, [("way", w, "outer") for w in wids],
          {"type": "multipolygon", "natural": "wood"})
    hub = s.node(700, 40 * U, 0, {"highway": "crossing"})
    for i in range(24):
        e = s.node(701 + i, 41 * U + i * 100, i * 100)
        s.way(750 + i, [hub, e], {"highway": "residential"})


def scene_invalid_polygons(s: Scene) -> None:
    """Self-intersecting polygon ways — make_valid node-split targets
    (`geosgeometry.rs:209-226`): bowtie (transversal crossing),
    pinched ring (repeated vertex), spiked square, and a self-crossing
    ring with a contained opposite loop (outer + hole)."""
    # bowtie: crossing at (U, U)
    a = s.node(1, 0, 0)
    b = s.node(2, 2 * U, 0)
    c = s.node(3, 0, 2 * U)
    d = s.node(4, 2 * U, 2 * U)
    s.way(10, [a, b, c, d, a], {"building": "yes"})
    # pinched: two triangles sharing one revisited vertex
    p = s.node(5, 6 * U, 0)
    q1 = s.node(6, 8 * U, 0)
    q2 = s.node(7, 8 * U, 2 * U)
    r1 = s.node(8, 4 * U, 0)
    r2 = s.node(9, 4 * U, -2 * U)
    s.way(11, [p, q1, q2, p, r2, r1, p], {"landuse": "meadow"})
    # spiked square: zero-area arm off the top edge
    e0 = s.node(11, 12 * U, 0)
    e1 = s.node(12, 16 * U, 0)
    e2 = s.node(13, 16 * U, 4 * U)
    sp = s.node(14, 14 * U, 8 * U)
    e3 = s.node(15, 14 * U, 4 * U)
    e4 = s.node(16, 12 * U, 4 * U)
    s.way(12, [e0, e1, e2, e3, sp, e3, e4, e0], {"leisure": "pitch"})
    # self-crossing ring whose tail loops inside -> outer + hole
    xy = [(0, 0), (12, 0), (12, 12), (6, 12), (6, 3),
          (9, 3), (9, 9), (3, 9), (3, 6), (0, 6)]
    pts = [s.node(20 + i, x * U + 24 * U, y * U) for i, (x, y) in enumerate(xy)]
    s.way(13, pts + [pts[0]], {"natural": "sand"})


SCENES = [
    scene_points, scene_line_vs_poly, scene_donut, scene_multi_part,
    scene_missing_member, scene_parent_tags, scene_relation_tags,
    scene_tile_boundary, scene_minzoom, scene_media_join, scene_skew,
    scene_invalid_polygons,
]


def build_doc(i: int) -> tuple[str, list[dict]]:
    s = Scene(i)
    SCENES[i % len(SCENES)](s)
    spans = [{"kind": k, "text": t, "media_ref": m, "offset": off}
             for off, (k, t, m) in enumerate(s.spans())]
    return f"doc-{i:09d}", spans


def docs_for_sf(sf_dir: str) -> int:
    """sf dir name -> deterministic doc count (FIXTURES scale knob)."""
    name = os.path.basename(os.path.normpath(sf_dir))
    table = {"sf0.001": 220, "sf0.01": 2200, "sf0.1": 22000}
    if name in table:
        return table[name]
    return 220


FIXTURE_VERSION = 5  # v5: reference default_style parent-tag fixtures


def generate_docs_parquet(out_path: str, n_docs: int) -> str:
    """Write the docs table; idempotent (skips when already present
    with the right row count AND span-grammar version — a version
    marker file invalidates stale fixtures when the grammar evolves)."""
    # dot-prefixed: Spark file sources ignore hidden files, so the
    # marker never collides with directory-based parquet reads
    marker = os.path.join(os.path.dirname(out_path),
                          "." + os.path.basename(out_path) + ".fixture_version")
    if os.path.exists(out_path):
        try:
            ok_rows = pq.read_metadata(out_path).num_rows == n_docs
            ok_ver = (os.path.exists(marker)
                      and open(marker).read().strip() == str(FIXTURE_VERSION))
            if ok_rows and ok_ver:
                return out_path
        except (OSError, pa.ArrowInvalid):  # missing or corrupt: rewrite
            pass
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    # small row groups so Spark's parquet scan can split the file into
    # parallel tasks
    _write_docs(out_path, 0, n_docs, min(max(256, n_docs // 64), 50000))
    with open(marker, "w") as f:
        f.write(str(FIXTURE_VERSION))
    return out_path


def _write_docs(path: str, start: int, stop: int, chunk: int) -> int:
    """Write docs [start, stop) to one parquet file, one row group per
    ``chunk`` docs (constant memory at any size); returns the count."""
    writer = pq.ParquetWriter(path, DOCS_SCHEMA)
    try:
        for s in range(start, stop, chunk):
            ids, spans = [], []
            for i in range(s, min(s + chunk, stop)):
                d, sp = build_doc(i)
                ids.append(d)
                spans.append(sp)
            writer.write_table(pa.Table.from_pydict(
                {"doc_id": ids, "spans": spans}, schema=DOCS_SCHEMA))
    finally:
        writer.close()
    return stop - start


def generate_docs_parquet_dir(out_dir: str, n_docs: int,
                              n_workers: int | None = None) -> str:
    """Multi-process fixture writer for the multi-GB scaling inputs
    (~1 KB/doc: 14M docs is ~14 GB — the single-file writer's one
    Python process would take hours).  Writes a DIRECTORY of part
    files (same doc indices, same deterministic content: build_doc(i)
    depends only on i, so sharding the index range changes nothing),
    which Spark reads identically.  Idempotent via the same version
    marker + total-row-count check as generate_docs_parquet."""
    marker = os.path.join(out_dir, "._fixture_version")
    if os.path.isdir(out_dir):
        try:
            parts = sorted(
                f for f in os.listdir(out_dir) if f.endswith(".parquet"))
            rows = sum(pq.read_metadata(os.path.join(out_dir, f)).num_rows
                       for f in parts)
            ok_ver = (os.path.exists(marker)
                      and open(marker).read().strip() == str(FIXTURE_VERSION))
            if rows == n_docs and ok_ver:
                return out_dir
        except (OSError, pa.ArrowInvalid):  # missing or corrupt: rewrite
            pass
        import shutil
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    n_workers = n_workers or max(1, (os.cpu_count() or 8) - 4)
    n_shards = min(n_workers * 4, max(1, n_docs // 50000) or 1)
    bounds = [n_docs * k // n_shards for k in range(n_shards + 1)]
    jobs = [(os.path.join(out_dir, f"part-{k:05d}.parquet"),
             bounds[k], bounds[k + 1], 50000)
            for k in range(n_shards) if bounds[k] < bounds[k + 1]]
    import multiprocessing as mp
    with mp.get_context("fork").Pool(n_workers) as pool:
        written = sum(pool.starmap(_write_docs, jobs))
    assert written == n_docs, (written, n_docs)
    with open(marker, "w") as f:
        f.write(str(FIXTURE_VERSION))
    return out_dir


def generate_mega_relation_docs(out_path: str, n_ways: int = 10_000,
                                pts_per_way: int = 4) -> str:
    """Coastline-scale skew fixture (round-3 verdict Next #6): ONE
    multipolygon relation whose exterior is a huge circle split into
    ``n_ways`` consecutive member ways (reference skew case:
    continent coastlines / national admin boundaries with 10^4-10^5
    members).  Deterministic; separate from the round-robin scene
    fixtures so their row counts/digests never change."""
    s = Scene(0)
    npts = n_ways * pts_per_way
    radius = 5_000_000  # 0.5 deg in 1e-7 fixed-point: int64-exact shoelace
    coords = [(int(radius * math.cos(2 * math.pi * i / npts)),
               int(radius * math.sin(2 * math.pi * i / npts)))
              for i in range(npts)]
    _, wids = s.ring(1, npts + 10, coords, n_ways=n_ways)
    s.rel(npts + n_ways + 20, [("way", w, "outer") for w in wids],
          {"type": "multipolygon", "natural": "water"})
    spans = [{"kind": k, "text": t, "media_ref": m, "offset": off}
             for off, (k, t, m) in enumerate(s.spans())]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(pa.Table.from_pydict(
        {"doc_id": ["doc-mega-000"], "spans": [spans]},
        schema=DOCS_SCHEMA), out_path)
    return out_path


def fixture_docs_path(sf_dir: str) -> str:
    """Deterministic fixture location for a given testdata sf dir,
    under :data:`session.DATA_DIR`."""
    from .session import DATA_DIR
    name = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(DATA_DIR, f"geom_{name}", "docs.parquet")
    return generate_docs_parquet(out, docs_for_sf(sf_dir))
