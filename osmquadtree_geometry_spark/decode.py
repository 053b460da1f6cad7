"""Stage 0 — decode the interleaved ``docs`` table into relational
``nodes`` / ``ways`` / ``relations`` / ``media`` DataFrames, and
re-encode them back to spans for the per-row invariant check.

All parses use ``try_cast`` (NOT ``cast``): under ANSI mode a plain
cast THROWS on malformed text, and the contract here is
null-and-drop.  Everything here is built-in DataFrame ops (``explode``,
``str_to_map``, ``map_from_entries``, window-free groupBys) — fully
JVM-side, no Python UDFs.  The only shuffles are the per-entity
groupBys (way refs, relation members, tag maps), each keyed by the
entity id — at 10^12 docs these hash-partition evenly because ids are
dense and synthetic salting is unnecessary at this stage.

Reference data model being reconstructed: SURVEY.md §1.1
(`waywithnodes.rs:75-110`, `multipolygons.rs:142-162`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.quadtree import with_point_qt
from .tableio import read_table


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    """Scan the interleaved docs table.  ``path`` is a parquet path in
    this sandbox; with SPARK_GRAFT_TABLE_FORMAT=iceberg it is an
    Iceberg catalog table name (the north rule's input shape) — the
    seam is tableio.read_table, nothing downstream changes."""
    return read_table(spark, path)


def _field(n: int, text: str = "text") -> str:
    """n-th ';'-separated k=v field's value — positional parsing (the
    span text layout is fixed per kind, FIXTURES.md §1).  ~5x faster
    than ``str_to_map`` (no per-row map allocation) and it scales with
    cores where str_to_map was allocation-bound."""
    return f"substring_index(substring_index({text}, ';', {n}), '=', -1)"


def explode_spans(docs: DataFrame) -> DataFrame:
    # no offset column: nothing downstream consumes it (the span
    # invariant sorts docs.spans directly), and the exploded table is
    # persisted — every cached byte is DRAM bandwidth on read
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def decode_tags(spans: DataFrame) -> DataFrame:
    """(id, node_tags, way_tags, rel_tags): ALL tag maps in ONE
    id-keyed shuffle (round-2 scaling lever — round 1 ran three
    separate groupBys over the tag spans, three passes + three shuffle
    writes).  collect_list skips the NULLs the per-elem CASE produces,
    so each map holds only its kind's tags; keys sorted for
    deterministic map iteration order.  Since round 6 the
    nodes/ways/relations decodes attach their own tags, so nothing in
    the chain reads this table; it stays in :func:`decode_all` for
    ``bench.py``'s scaling persist policy.

    tag text: elem=..;id=..;k=..;v=..  (v extracted by offset so it
    may contain any characters incl. '=' and ';')"""
    t = _tag_spans(spans)

    def m(elem: str):
        return F.map_from_entries(F.array_sort(F.collect_list(
            F.when(F.col("elem") == elem, F.struct("k", "v")))))

    return t.groupBy("id").agg(m("node").alias("node_tags"),
                               m("way").alias("way_tags"),
                               m("rel").alias("rel_tags"))


def _tag_spans(spans: DataFrame) -> DataFrame:
    """(elem, id, k, v) of every tag span whose id parses."""
    return (spans.where(F.col("kind") == "tag")
            .select(F.expr(_field(1)).alias("elem"),
                    F.expr(f"try_cast({_field(2)} as bigint)").alias("id"),
                    F.expr(_field(3)).alias("k"),
                    F.expr("substring(text, locate(';v=', text) + 3)").alias("v"))
            .where(F.col("id").isNotNull()))


def _tag_rows(spans: DataFrame, elem: str) -> DataFrame:
    """(id, k, v) tag rows for ONE element kind — the union leg the
    fused per-entity groupBys consume (round-6: one shuffle per entity
    instead of the shared tag groupBy + three map joins)."""
    return _tag_spans(spans).where(F.col("elem") == elem).drop("elem")


# node span text id=..;lon=..;lat=..;ver=..;ts=.. : each field's
# position, and its type under the column name it decodes to
_NODE_FIELDS = {"id": (1, "bigint"), "lon": (2, "int"), "lat": (3, "int"),
                "version": (4, "int"), "timestamp": (5, "bigint")}


def _node_rows(spans: DataFrame, *cols: str) -> DataFrame:
    """``cols`` (``doc_id`` and node span fields, which must include
    id, lon and lat) of every node span whose id, lon and lat parse.
    Malformed span text drops here rather than reaching a consumer as
    a null-location node with a spurious quadtree."""
    def col(c: str):
        if c == "doc_id":
            return F.col(c)
        n, typ = _NODE_FIELDS[c]
        return F.expr(f"try_cast({_field(n)} as {typ})").alias(c)

    return (spans.where(F.col("kind") == "node")
            .select(*map(col, cols))
            .where(F.col("id").isNotNull() & F.col("lon").isNotNull()
                   & F.col("lat").isNotNull()))


# the sorted-entries map aggregate shared by every fused decode:
# identical formula to decode_tags' m() (duplicate keys resolve
# LAST_WIN over the (k, v)-sorted entries)
def _tags_agg():
    return F.map_from_entries(F.array_sort(F.collect_list(
        F.when(F.col("k").isNotNull(), F.struct("k", "v")))))


def decode_node_locations(spans: DataFrame) -> DataFrame:
    """(lon, lat, quadtree) ONLY — the minimal projection for
    consumers that need node cells but no tags/info (e.g. the tile
    dictionary): skips the tag groupBy+join entirely, so a dictionary
    pass costs one filtered span parse instead of a full
    decode_nodes."""
    # same rows as decode_nodes, so the derived tile set is identical
    # to one built from the full table
    n = _node_rows(spans, "id", "lon", "lat").drop("id")
    return with_point_qt(n, "lon", "lat")


def decode_nodes(spans: DataFrame) -> DataFrame:
    """nodes(doc_id, id, lon, lat, tags, quadtree) — quadtree is the
    z18 point cell (`Quadtree::calculate_point`), computed with the
    pure-SQL kernel so it stays inside whole-stage codegen.

    Shape (round-6): node rows keep the original join-with-tag-map
    form, but against a NODE-ONLY tag groupBy (``_tag_rows``) instead
    of the shared three-kind ``decode_tags`` table — node rows carry
    no aggregate, so only the tag side sorts.  (A fully fused
    union+groupBy variant was measured SLOWER here at sf0.1: with
    ObjectHashAggregate disabled session-wide, the collect_list
    forces a SortAggregate over every node row, where the join form
    sorts only the far-smaller tag stream.  Ways/relations stay
    fused — they already paid a groupBy.)"""
    # version/timestamp: element Info metadata (`geometry_block.rs:39`,
    # SURVEY §1.1 `info:Option<Info>`)
    n = _node_rows(spans, "doc_id", "id", "lon", "lat", "version",
                   "timestamp")
    tags = (_tag_rows(spans, "node")
            .groupBy("id").agg(_tags_agg().alias("tags"))
            .where(F.size("tags") > 0))
    out = (n.join(tags, ["id"], "left")
           .withColumn("tags", F.coalesce("tags", F.expr("map()"))))
    return with_point_qt(out, "lon", "lat")


def decode_ways(spans: DataFrame) -> DataFrame:
    """ways(doc_id, id, refs, tags)."""
    w = (spans.where(F.col("kind") == "way_ref")
         .select("doc_id",
                 F.expr(f"try_cast({_field(1)} as bigint)").alias("id"),
                 F.expr(f"try_cast({_field(2)} as int)").alias("pos"),
                 F.expr(f"try_cast({_field(3)} as bigint)").alias("ref"))
         .where(F.col("id").isNotNull() & F.col("pos").isNotNull()
                & F.col("ref").isNotNull()))
    # fused tag attachment (round-6): ref rows + way-tag rows in ONE
    # id-keyed groupBy — collect_list skips the tag legs' null structs,
    # the map agg skips the ref legs' null keys
    u = (w.select("id", "doc_id", F.struct("pos", "ref").alias("pr"),
                  F.lit(None).cast("string").alias("k"),
                  F.lit(None).cast("string").alias("v"))
         .unionByName(_tag_rows(spans, "way").select(
             "id", F.lit(None).cast("string").alias("doc_id"),
             F.lit(None).cast("struct<pos:int,ref:bigint>").alias("pr"),
             "k", "v")))
    g = (u.groupBy("id")
         .agg(F.first("doc_id", ignorenulls=True).alias("doc_id"),
              F.transform(F.array_sort(F.collect_list("pr")),
                          lambda x: x["ref"]).alias("refs"),
              _tags_agg().alias("tags")))
    # ids seen only via tags (no parsable ref row) never existed in the
    # old refs table — keep it that way
    return g.where(F.size("refs") > 0)


def decode_relations(spans: DataFrame) -> DataFrame:
    """relations(doc_id, id, members array<struct<mem_type,mem_ref,role>>, tags)."""
    r = (spans.where(F.col("kind") == "rel_member")
         .select("doc_id",
                 F.expr(f"try_cast({_field(1)} as bigint)").alias("id"),
                 F.expr(f"try_cast({_field(2)} as int)").alias("pos"),
                 F.expr(_field(3)).alias("mem_type"),
                 F.expr(f"try_cast({_field(4)} as bigint)").alias("mem_ref"),
                 F.expr(_field(5)).alias("role")))
    # fused tag attachment (round-6) — same shape as decode_ways; the
    # old left join on a null id matched nothing, and here a null-id
    # group likewise collects no tag rows (_tag_rows filters null ids)
    mt = "struct<pos:int,mem_type:string,mem_ref:bigint,role:string>"
    u = (r.select("id", "doc_id",
                  F.struct("pos", "mem_type", "mem_ref", "role").alias("mr"),
                  F.lit(None).cast("string").alias("k"),
                  F.lit(None).cast("string").alias("v"))
         .unionByName(_tag_rows(spans, "rel").select(
             "id", F.lit(None).cast("string").alias("doc_id"),
             F.lit(None).cast(mt).alias("mr"), "k", "v")))
    g = (u.groupBy("id")
         .agg(F.first("doc_id", ignorenulls=True).alias("doc_id"),
              F.transform(
                  F.array_sort(F.collect_list("mr")),
                  lambda x: F.struct(x["mem_type"].alias("mem_type"),
                                     x["mem_ref"].alias("mem_ref"),
                                     x["role"].alias("role"))).alias("members"),
              _tags_agg().alias("tags")))
    return g.where(F.size("members") > 0)


def decode_media(spans: DataFrame) -> DataFrame:
    """media(doc_id, tile, z, x, y) — raster tile references."""
    m = (spans.where(F.col("kind") == "media")
         .select("doc_id", F.col("media_ref").alias("tile")))
    return m.select(
        "doc_id", "tile",
        F.expr("try_cast(split(tile, '/')[0] as int)").alias("z"),
        F.expr("try_cast(split(tile, '/')[1] as bigint)").alias("x"),
        F.expr("try_cast(split(tile, '/')[2] as bigint)").alias("y"))


def decode_all(docs: DataFrame) -> dict[str, DataFrame]:
    spans = explode_spans(docs)
    return {
        "spans": spans,
        "tags_all": decode_tags(spans),
        "nodes": decode_nodes(spans),
        "ways": decode_ways(spans),
        "relations": decode_relations(spans),
        "media": decode_media(spans),
    }


# ---------------------------------------------------------------------------
# per-row invariant: decode → re-encode == input span sequence
# ---------------------------------------------------------------------------

def reencode_spans(nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                   media: DataFrame) -> DataFrame:
    """Rebuild (doc_id, spans) in the canonical order of
    ``datagen.Scene.spans``.  Used by the invariant check: the result
    must equal the input docs table row-for-row."""
    n = nodes.select(
        "doc_id", F.lit(0).alias("rank"),
        F.struct(F.col("id").alias("k1"), F.lit(0).cast("long").alias("k2"),
                 F.lit("").alias("k3")).alias("ord"),
        F.lit("node").alias("kind"),
        F.concat(F.lit("id="), "id", F.lit(";lon="), "lon",
                 F.lit(";lat="), "lat", F.lit(";ver="), "version",
                 F.lit(";ts="), "timestamp").alias("text"),
        F.lit("").alias("media_ref"))
    w = (ways.select("doc_id", "id", F.posexplode("refs").alias("pos", "ref"))
         .select("doc_id", F.lit(1).alias("rank"),
                 F.struct(F.col("id").alias("k1"),
                          F.col("pos").cast("long").alias("k2"),
                          F.lit("").alias("k3")).alias("ord"),
                 F.lit("way_ref").alias("kind"),
                 F.concat(F.lit("way="), "id", F.lit(";pos="), "pos",
                          F.lit(";ref="), "ref").alias("text"),
                 F.lit("").alias("media_ref")))
    r = (relations.select("doc_id", "id", F.posexplode("members").alias("pos", "mm"))
         .select("doc_id", F.lit(2).alias("rank"),
                 F.struct(F.col("id").alias("k1"),
                          F.col("pos").cast("long").alias("k2"),
                          F.lit("").alias("k3")).alias("ord"),
                 F.lit("rel_member").alias("kind"),
                 F.concat(F.lit("rel="), "id", F.lit(";pos="), "pos",
                          F.lit(";type="), F.col("mm.mem_type"),
                          F.lit(";ref="), F.col("mm.mem_ref"),
                          F.lit(";role="), F.col("mm.role")).alias("text"),
                 F.lit("").alias("media_ref")))

    # tag ordering key: (elem-rank, id, key)
    tn = (nodes.select("doc_id", "id", F.explode("tags").alias("k", "v"))
          .select("doc_id", F.lit("node").alias("elem"), F.lit(0).alias("erank"),
                  "id", "k", "v"))
    tw = (ways.select("doc_id", "id", F.explode("tags").alias("k", "v"))
          .select("doc_id", F.lit("way").alias("elem"), F.lit(1).alias("erank"),
                  "id", "k", "v"))
    tr = (relations.select("doc_id", "id", F.explode("tags").alias("k", "v"))
          .select("doc_id", F.lit("rel").alias("elem"), F.lit(2).alias("erank"),
                  "id", "k", "v"))
    tags = (tn.unionByName(tw).unionByName(tr)
            .select("doc_id", F.lit(3).alias("rank"),
                    F.struct(F.col("erank").cast("long").alias("k1"),
                             F.col("id").cast("long").alias("k2"),
                             F.col("k").alias("k3")).alias("ord"),
                    F.lit("tag").alias("kind"),
                    F.concat(F.lit("elem="), "elem", F.lit(";id="), "id",
                             F.lit(";k="), "k", F.lit(";v="), "v").alias("text"),
                    F.lit("").alias("media_ref")))
    md = media.select(
        "doc_id", F.lit(4).alias("rank"),
        F.struct(F.lit(0).cast("long").alias("k1"), F.lit(0).cast("long").alias("k2"),
                 F.col("tile").alias("k3")).alias("ord"),
        F.lit("media").alias("kind"),
        F.concat(F.lit("tile="), "tile").alias("text"),
        F.col("tile").alias("media_ref"))

    allspans = n.unionByName(w).unionByName(r).unionByName(tags).unionByName(md)
    return (allspans
            .groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("rank", "ord", "kind", "text", "media_ref"))),
                lambda x: F.struct(x["kind"].alias("kind"),
                                   x["text"].alias("text"),
                                   x["media_ref"].alias("media_ref"))).alias("spans")))


def span_invariant_violations(docs: DataFrame, re_encoded: DataFrame) -> DataFrame:
    """Docs whose re-encoded span sequence differs from the input
    (kind, text, media_ref, order) — must be empty."""
    orig = docs.select(
        "doc_id",
        F.transform(F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)"),
                    lambda x: F.struct(x["kind"].alias("kind"),
                                       x["text"].alias("text"),
                                       x["media_ref"].alias("media_ref"))).alias("o"))
    return (orig.join(re_encoded, "doc_id", "full")
            .where(F.col("o").isNull() | F.col("spans").isNull()
                   | (F.col("o") != F.col("spans"))))
