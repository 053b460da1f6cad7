"""Geometry style configuration — the engine's classification rules.

Mirrors the reference's config surface (`/root/reference/src/style.rs:178-211`):
``feature_keys``, ``other_keys``, ``polygon_tags`` (all/include/exclude),
``parent_tags``, ``relation_tag_spec`` (min/max/list), ``z_order_spec``,
``all_objs``, ``drop_keys``, ``multipolygons``, ``boundary_relations``.

The default style DATA below (feature keys, polygon tag rules, parent
tag priorities, z-order values) is transcribed from the reference's
embedded default (`default_style.rs`) so that classification output
matches the reference exactly — declared provenance, same as the
minzoom rule table (see COVERAGE.md).  The reference is public; exact
value parity is required by SURVEY §7.

License/attribution (round-3 ADVICE): the vendored reference copy at
/root/reference carries no LICENSE file and no ``license`` field in
its Cargo.toml; upstream is the public GitHub project
jharris2268/osmquadtree-geometry.  The transcription is confined to
the embedded default CONFIGURATION DATA (OpenStreetMap tag
classification lists — factual key/value names and integer
priorities in the osm2pgsql default-style tradition), not program
code; it is reproduced here solely for output parity with the
reference and attributed to that project.  If the upstream project
publishes license terms that conflict with redistribution of this
table, replace it with a user-supplied style JSON (``from_json``
below loads one) — every consumer of this module reads the style
through the dataclass, so the default is swappable.

The style compiles to Spark SQL boolean/value expressions so the hot
path stays JVM-side (`has_feature_key` -> ``exists(map_keys(...))``,
``filter_tags`` -> ``map_filter``, z-order -> a literal lookup map).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class ParentTagSpec:
    node_keys: list[str]
    way_key: str
    way_priority: dict[str, int]  # empty -> every value has priority 0


@dataclass
class RelationTagSpec:
    source_filter: dict[str, str]  # all k=v must be present on the relation
    source_key: str
    target_key: str
    op_type: str  # 'min' | 'max' | 'list'


# PolyTagSpec: ('all', None) | ('include', [vals]) | ('exclude', [vals])
PolyTagSpec = tuple


# The four default tables below are row-for-row transcriptions of the
# reference's embedded default style (`default_style.rs:1-248`) — like
# the minzoom table, this is exact-match DATA both engines must share
# for output parity (feature selection, polygon detection, z_order,
# and parent-tag priorities all flow from it).

DEFAULT_FEATURE_KEYS = [
    "aerialway", "aeroway", "amenity", "barrier", "boundary", "bridge",
    "building", "construction", "embankment", "highway", "historic",
    "junction", "landuse", "leisure", "lock", "man_made", "military",
    "natural", "place", "power", "railway", "route", "service", "shop",
    "tourism", "tunnel", "water", "waterway",
]

DEFAULT_POLYGON_TAGS: dict[str, PolyTagSpec] = {
    "aeroway": ("exclude", ["taxiway"]),
    "amenity": ("all", None),
    "area": ("all", None),
    "area:highway": ("all", None),
    "barrier": ("include", ["city_wall", "ditch", "wall", "spikes"]),
    "boundary": ("all", None),
    "building": ("all", None),
    "building:part": ("all", None),
    "golf": ("all", None),
    "highway": ("include", ["services", "rest_area", "escape", "elevator"]),
    "historic": ("all", None),
    "landuse": ("all", None),
    "leisure": ("all", None),
    "man_made": ("exclude", ["cutline", "embankment", "pipeline"]),
    "military": ("all", None),
    "natural": ("exclude", ["coastline", "cliff", "ridge", "arete", "tree_row"]),
    "office": ("all", None),
    "place": ("all", None),
    "power": ("include", ["plant", "substation", "generator", "transformer"]),
    "public_transport": ("all", None),
    "railway": ("include", ["station", "turntable", "roundhouse", "platform"]),
    "shop": ("all", None),
    "tourism": ("all", None),
    "waterway": ("include", ["riverbank", "dock", "boatyard", "dam"]),
}

DEFAULT_Z_ORDER: dict[str, dict[str, int]] = {
    "highway": {
        "motorway": 380, "trunk": 370, "primary": 360, "secondary": 350,
        "tertiary": 340, "residential": 330, "unclassified": 330,
        "road": 330, "living_street": 320, "pedestrian": 310,
        "raceway": 300, "motorway_link": 240, "trunk_link": 230,
        "primary_link": 220, "secondary_link": 210, "tertiary_link": 200,
        "service": 150, "track": 110, "path": 100, "footway": 100,
        "bridleway": 100, "cycleway": 100, "steps": 90, "platform": 90,
        "construction": 10,
    },
    "railway": {
        "rail": 440, "subway": 420, "narrow_gauge": 420, "light_rail": 420,
        "funicular": 420, "preserved": 420, "monorail": 420,
        "miniature": 420, "turntable": 420, "tram": 410, "disused": 400,
        "construction": 400, "platform": 90,
    },
    "aeroway": {"runway": 60, "taxiway": 50},
}

DEFAULT_PARENT_TAGS: dict[str, ParentTagSpec] = {
    "parent_highway": ParentTagSpec(
        node_keys=["highway", "railway"],
        way_key="highway",
        way_priority={
            "footway": 0, "cycleway": 1, "bridleway": 2, "path": 3,
            "steps": 4, "pedestrian": 5, "service": 6, "track": 7,
            "byway": 8, "living_street": 9, "residential": 10,
            "road": 11, "unclassified": 12, "tertiary": 13,
            "tertiary_link": 14, "secondary": 15, "secondary_link": 16,
            "primary": 17, "primary_link": 18, "trunk": 19,
            "trunk_link": 20, "motorway": 21, "motorway_link": 22,
            "siding": 23, "rail": 24,
        },
    ),
    "parent_service": ParentTagSpec(
        node_keys=["highway"],
        way_key="service",
        way_priority={},
    ),
}

DEFAULT_RELATION_TAG_SPEC = [
    RelationTagSpec({"type": "boundary", "boundary": "administrative"},
                    "admin_level", "min_admin_level", "min"),
    RelationTagSpec({"type": "boundary", "boundary": "administrative"},
                    "admin_level", "max_admin_level", "max"),
    RelationTagSpec({"type": "route", "route": "bus"}, "ref", "bus_routes", "list"),
    RelationTagSpec({"type": "route", "route": "bicycle"}, "ref", "bicycle_routes", "list"),
]


@dataclass
class GeometryStyle:
    feature_keys: list[str] = field(default_factory=lambda: list(DEFAULT_FEATURE_KEYS))
    other_keys: list[str] | None = None  # None -> keep every key
    polygon_tags: dict[str, PolyTagSpec] = field(default_factory=lambda: dict(DEFAULT_POLYGON_TAGS))
    parent_tags: dict[str, ParentTagSpec] = field(default_factory=lambda: dict(DEFAULT_PARENT_TAGS))
    relation_tag_spec: list[RelationTagSpec] = field(default_factory=lambda: list(DEFAULT_RELATION_TAG_SPEC))
    z_order_spec: dict[str, dict[str, int]] = field(default_factory=lambda: dict(DEFAULT_Z_ORDER))
    all_objs: bool = False
    drop_keys: list[str] = field(default_factory=lambda: ["created_by", "source", "tiger:", "odbl"])
    multipolygons: bool = True
    boundary_relations: bool = True

    # -- JSON round trip (config surface parity: style.rs:194-212) -----------

    @staticmethod
    def from_json(s: str) -> "GeometryStyle":
        d = json.loads(s)
        pt = {k: (v[0], v[1]) for k, v in d.get("polygon_tags", {}).items()}
        par = {k: ParentTagSpec(**v) for k, v in d.get("parent_tags", {}).items()}
        rts = [RelationTagSpec(**v) for v in d.get("relation_tag_spec", [])]
        return GeometryStyle(
            feature_keys=d.get("feature_keys", list(DEFAULT_FEATURE_KEYS)),
            other_keys=d.get("other_keys"),
            polygon_tags=pt or dict(DEFAULT_POLYGON_TAGS),
            parent_tags=par or dict(DEFAULT_PARENT_TAGS),
            relation_tag_spec=rts or list(DEFAULT_RELATION_TAG_SPEC),
            z_order_spec=d.get("z_order_spec", dict(DEFAULT_Z_ORDER)),
            all_objs=d.get("all_objs", False),
            drop_keys=d.get("drop_keys", []),
            multipolygons=d.get("multipolygons", True),
            boundary_relations=d.get("boundary_relations", True),
        )

    def to_json(self) -> str:
        return json.dumps({
            "feature_keys": self.feature_keys,
            "other_keys": self.other_keys,
            "polygon_tags": {k: [v[0], v[1]] for k, v in self.polygon_tags.items()},
            "parent_tags": {k: vars(v) for k, v in self.parent_tags.items()},
            "relation_tag_spec": [vars(v) for v in self.relation_tag_spec],
            "z_order_spec": self.z_order_spec,
            "all_objs": self.all_objs,
            "drop_keys": self.drop_keys,
            "multipolygons": self.multipolygons,
            "boundary_relations": self.boundary_relations,
        }, indent=1)

    # -- compiled SQL expressions (tags column: map<string,string>) ----------

    @staticmethod
    def _lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def sql_has_feature_key(self, tags: str) -> str:
        """`style.rs:213-220` — any tag key in feature_keys."""
        if self.all_objs:
            return "true"
        keys = ", ".join(self._lit(k) for k in self.feature_keys)
        return f"exists(map_keys({tags}), k -> k IN ({keys}))"

    def sql_filter_tags(self, tags: str) -> str:
        """`style.rs:261-292` keep-set: (feature ∪ other) minus drop
        (incl. 'prefix:' drop keys)."""
        conds = []
        if self.other_keys is None:
            keep = "true"
        else:
            keys = ", ".join(self._lit(k) for k in
                             sorted(set(self.feature_keys) | set(self.other_keys)))
            keep = f"k IN ({keys})"
        drops = [d for d in self.drop_keys if not d.endswith(":")]
        prefix_drops = [d for d in self.drop_keys if d.endswith(":")]
        if drops:
            conds.append(f"NOT k IN ({', '.join(self._lit(d) for d in drops)})")
        for p in prefix_drops:
            conds.append(f"NOT startswith(k, {self._lit(p)})")
        cond = " AND ".join([keep] + conds) if conds else keep
        return f"map_filter({tags}, (k, v) -> ({cond}))"

    def sql_layer(self, tags: str) -> str:
        """int-parsed 'layer' tag, null when absent/unparsable."""
        return f"try_cast({tags}['layer'] AS bigint)"

    def sql_z_order(self, tags: str) -> str:
        """max z_order over matching (key,val) / (key,'*') spec entries."""
        pairs = []
        stars = {}
        for k, vals in self.z_order_spec.items():
            for v, z in vals.items():
                if v == "*":
                    stars[k] = z
                else:
                    pairs.append((f"{k}\x00{v}", z))
        entries = ", ".join(f"{self._lit(k)}, cast({z} as bigint)" for k, z in pairs)
        m = f"map({entries})"
        lookups = (f"transform(map_entries({tags}), "
                   f"e -> {m}[concat(e.key, chr(0), e.value)])")
        if stars:
            sentries = ", ".join(f"{self._lit(k)}, cast({z} as bigint)" for k, z in stars.items())
            sm = f"map({sentries})"
            lookups = (f"transform(map_entries({tags}), "
                       f"e -> coalesce({m}[concat(e.key, chr(0), e.value)], {sm}[e.key]))")
        return f"array_max(filter({lookups}, x -> x is not null))"

    def sql_is_polygon(self, tags: str) -> str:
        """`style.rs:294-316`: ANY tag matches its PolyTagSpec.
        (Ring-closure is tested separately by the caller.)"""
        clauses = []
        for k, (kind, vals) in self.polygon_tags.items():
            key = self._lit(k)
            if kind == "all":
                clauses.append(f"map_contains_key({tags}, {key})")
            elif kind == "include":
                lst = ", ".join(self._lit(v) for v in vals)
                # coalesce: absent key -> NULL would poison the OR chain
                clauses.append(f"coalesce({tags}[{key}] IN ({lst}), false)")
            else:  # exclude
                lst = ", ".join(self._lit(v) for v in vals)
                clauses.append(f"(map_contains_key({tags}, {key}) "
                               f"AND NOT {tags}[{key}] IN ({lst}))")
        return "(" + " OR ".join(clauses) + ")" if clauses else "false"
