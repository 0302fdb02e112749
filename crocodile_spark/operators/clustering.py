"""Stage 4 -- transitive clustering: connected components with a
deterministic cluster id = min member (SURVEY.md section 7.1 step 5).

Two plans, chosen by the size of the canonical edge set (oriented u > v,
self-loops dropped, distinct), whose count the first scan already takes
(*To Partition, or Not to Partition*, SIGMOD 2021):

- At most ``CC_DRIVER_MAX_EDGES`` edges: the edges are collected to the
  driver and resolved by union-find with union-by-min, so every root is its
  component's minimum member. One collect job instead of a join loop.
- Above it: the distributed large-star/small-star loop (Kiveris et al.,
  SoCC 2014) -- a driver-side loop of joins/aggregations with a cheap
  fixed-point check (row count + order-independent xxhash checksum) and
  ``localCheckpoint`` per round to cut lineage. No GraphFrames dependency.

The cutoff is sized by driver memory, not by speed: the driver path is
faster at every size measured, but its Python working set grows linearly
with the edge count (see the constant's comment).

Both plans give byte-identical output. Python ``str`` order is code-point
order, which equals Spark's UTF-8 binary order, and integral ids compare as
numbers; node types whose Spark order Python does not reproduce (floats,
collated strings, ...) always take the distributed loop.

Node-id encoding in the distributed loop: string node ids (urls) are
DICTIONARY-ENCODED to longs before the loop and decoded after. The
dictionary is the distinct node table, checkpointed, tagged with
``monotonically_increasing_id`` -- collision-free by construction
(partition_id << 33 | position), no count job, no giant map literal, no
extra shuffle beyond the distinct the node table needs anyway. Every round
then shuffles 8-byte keys instead of full url strings (the loop's dominant
shuffle bytes at web scale). The final assignment re-derives cluster_id =
min member URL per component, so the output does not depend on which long
ids the dictionary handed out.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canon(edges: DataFrame) -> DataFrame:
    """Orient edges u > v, drop self-loops, distinct."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node n: link every strictly-larger neighbor to
    min(neighborhood + self).

    r8: the output is NOT deduplicated here -- it is already canonically
    oriented by construction (u = v > m = v's neighborhood min), and the
    following ``_small_star`` ends in ``_canon`` anyway, so the extra
    distinct was one full exchange per round for nothing. Duplicate
    (v, m) rows are bounded by the input edge count (each input edge
    emits at most one row), collapse map-side in small-star's min
    aggregation, and are removed by its closing distinct -- assignments
    are identical (A/B-verified), one exchange per round cheaper."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_minv"))
        .select("u", F.least(F.col("u"), F.col("_minv")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node n (edges oriented n > v): link all small neighbors and
    n itself to the minimum small neighbor."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = edges.join(mins, "u").select(F.col("v").alias("n"), F.col("m"))
    selfs = mins.select(F.col("u").alias("n"), F.col("m"))
    out = nbrs.union(selfs).select(F.col("n").alias("u"), F.col("m").alias("v"))
    return _canon(out)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _canonical(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """The canonical edge set, checkpointed, and its (count, checksum).

    The checksum scan materializes the lazy checkpoint as it runs, so this
    is one job; its result is both the size probe and the star loop's
    initial fixed-point state."""
    e = _canon(edges).localCheckpoint(eager=False)
    return e, _checksum(e)


def _cc_loop(e: DataFrame, prev: tuple[int, int], max_iterations: int) -> DataFrame:
    """The raw alternating-star loop over a canonical, checkpointed edge
    set ``e`` with (count, checksum) ``prev``: -> (node, cluster_id) with
    cluster_id = min member under the node type's natural order."""
    for _ in range(max_iterations):
        # lazy checkpoint + checksum = ONE job per round: the checksum scan
        # materializes the checkpoint as it runs (r8; eager=True spent a
        # separate materialization job per round before the checksum job)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every edge is (member, root)
    members = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).distinct()


def encode_node_dictionary(edges: DataFrame) -> DataFrame:
    """(node, nid) dictionary over every node appearing in the edge set.

    ``monotonically_increasing_id`` over the CHECKPOINTED distinct node
    table: unique by construction, stable across the encode and decode
    joins because the input partitions are frozen first. Ids are sparse,
    which CC never cares about -- it needs only uniqueness and a total
    order."""
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return nodes.withColumn("nid", F.monotonically_increasing_id())


def _cc_star(
    edges: DataFrame, max_iterations: int, chk: tuple[int, int] | None = None
) -> DataFrame:
    """Distributed CC: edges(u, v) -> (node, cluster_id), cluster_id = min
    member, by the large-star/small-star loop; string ids run the loop
    dictionary-encoded. ``chk``: when given, ``edges`` is already the
    canonical checkpointed edge set and ``chk`` its (count, checksum)."""
    if chk is None:
        edges, chk = _canonical(edges)
    if not isinstance(edges.schema["u"].dataType, T.StringType):
        return _cc_loop(edges, chk, max_iterations)

    node_dict = encode_node_dictionary(edges)
    enc = (
        edges.join(
            node_dict.select(F.col("node").alias("u"), F.col("nid").alias("_eu")), "u"
        )
        .join(
            node_dict.select(F.col("node").alias("v"), F.col("nid").alias("_ev")), "v"
        )
        .select(F.col("_eu").alias("u"), F.col("_ev").alias("v"))
    )
    # the long ids order differently from the strings: re-orient
    assign_l = _cc_loop(*_canonical(enc), max_iterations)
    # decode: long -> original id, then re-derive the representative as the
    # min ORIGINAL id per component (the long-space min is an arbitrary
    # member under the dictionary's id assignment)
    dec = assign_l.join(
        node_dict.select(F.col("nid").alias("node"), F.col("node").alias("_orig")),
        "node",
    ).select(F.col("_orig").alias("node"), "cluster_id")
    rep = dec.groupBy("cluster_id").agg(F.min("node").alias("_rep"))
    return dec.join(rep, "cluster_id").select(
        "node", F.col("_rep").alias("cluster_id")
    )


def _cc_driver(e: DataFrame) -> DataFrame:
    """Driver CC over a canonical edge set: collect it, union-find with
    union-by-min (each root is its component's minimum member) and path
    compression, and return (node, cluster_id) with the input's node type."""
    tbl = e.toArrow()
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while root != parent[root]:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(tbl.column("u").to_pylist(), tbl.column("v").to_pylist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    roots = [find(n) for n in nodes]
    typ = tbl.schema.field("u").type
    out = pa.table({"node": pa.array(nodes, typ), "cluster_id": pa.array(roots, typ)})
    return e.sparkSession.createDataFrame(out)


# Canonical edge sets up to this size are resolved on the driver. Sized by
# driver memory, not speed (the driver path was faster at every size
# measured). Peak extra Python driver RSS with ~40-character url ids,
# local[4] on a 4-vCPU host:
#   250k edges, 62.5k nodes (4 edges/node)       +80 MB   1.3 s (star 9.6 s)
#   250k edges, 500k nodes (every edge a cluster) +160 MB  4.9 s
#   1M edges, 250k nodes (4 edges/node)          +300 MB  5.5 s
# so 250k edges bound the driver's share at about 160 MB.
CC_DRIVER_MAX_EDGES = 250_000


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """edges(u, v) -> assignments(node, cluster_id) with cluster_id = min
    member of the component. Nodes appearing in no edge are absent (the
    caller unions singletons); self-loops and duplicate edges are dropped.

    Canonical edge sets of at most ``CC_DRIVER_MAX_EDGES`` edges (a bound
    on driver memory) with string or integral node ids are resolved exactly
    by union-find on the driver; larger ones run the distributed star loop.
    ``max_iterations`` bounds only that loop. Both give identical output."""
    e, chk = _canonical(edges)
    dt = e.schema["u"].dataType
    if chk[0] <= CC_DRIVER_MAX_EDGES and (
        dt == T.StringType() or isinstance(dt, T.IntegralType)
    ):
        return _cc_driver(e)
    return _cc_star(e, max_iterations, chk)


def cluster_records(
    records: DataFrame,
    scored: DataFrame,
    threshold_col: str = "is_edge",
    max_iterations: int = 20,
) -> DataFrame:
    """Full stage 4: scored pairs -> entity_clusters(url, cluster_id).

    Singleton records (no accepted edge) become their own cluster.
    """
    edges = scored.where(F.col(threshold_col)).select(
        F.col("url_a").alias("u"), F.col("url_b").alias("v")
    )
    assign = connected_components(edges, max_iterations)
    out = (
        records.select(F.col("url"))
        .join(assign.withColumnRenamed("node", "url"), "url", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("url")))
    )
    return out
