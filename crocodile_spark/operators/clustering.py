"""Stage 4 -- transitive clustering: connected components with a
deterministic cluster id = min member (SURVEY.md section 7.1 step 5).

Two plans, chosen by the size of the canonical edge set (oriented u > v,
self-loops dropped, distinct), which one limited collect both measures and
brings to the driver (*To Partition, or Not to Partition*, SIGMOD 2021):

- At most ``CC_DRIVER_MAX_EDGES`` edges: the collected edges are resolved
  on the driver over int codes (the ids' ranks) in numpy, so every root is
  its component's minimum member. One collect instead of a join loop.
- Above it: the distributed large-star/small-star loop (Kiveris et al.,
  SoCC 2014) -- a driver-side loop of joins/aggregations with a cheap
  fixed-point check (row count + order-independent xxhash checksum) and
  ``localCheckpoint`` per round to cut lineage. No GraphFrames dependency.

The cutoff is sized by driver memory, not by speed: the driver path is
faster at every size measured, but its Python working set grows linearly
with the edge count (see the constant's comment).

Both plans give byte-identical output. Arrow sorts strings by their UTF-8
bytes, which is Spark's binary order, and integral ids as numbers; node
types whose Spark order Arrow does not reproduce (floats, collated strings,
...) always take the distributed loop.

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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
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
    """The canonical edge set, checkpointed, and its (count, checksum), the
    star loop's initial fixed-point state.

    Under AQE even a lazy ``localCheckpoint`` runs its upstream shuffle
    stages when it is called: one job for the distinct's exchange, then two
    for the checksum (20k edges, local[4])."""
    e = _canon(edges).localCheckpoint(eager=False)
    return e, _checksum(e)


def _cc_loop(e: DataFrame, prev: tuple[int, int], max_iterations: int) -> DataFrame:
    """The raw alternating-star loop over a canonical, checkpointed edge
    set ``e`` with (count, checksum) ``prev``: -> (node, cluster_id) with
    cluster_id = min member under the node type's natural order."""
    for _ in range(max_iterations):
        # seven jobs per round (20k edges, local[4]): under AQE the lazy
        # checkpoint runs the round's five upstream shuffle stages when it
        # is called, and the checksum two more
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


def _cc_star(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Distributed CC: edges(u, v) -> (node, cluster_id), cluster_id = min
    member, by the large-star/small-star loop; string ids run the loop
    dictionary-encoded."""
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


def _cc_driver(tbl: pa.Table, spark: SparkSession) -> DataFrame:
    """Driver CC over a collected canonical edge set: -> (node, cluster_id)
    with the input's node type, cluster_id = min member.

    The unique node ids are sorted by Arrow (binary order for strings,
    numeric for integers -- Spark's orders), so an id's position in the
    sorted array is its rank. The edges are encoded to those int codes and
    resolved in numpy: each round hooks the larger root of every edge whose
    ends have different roots onto the smaller one, then pointer jumping
    flattens every tree onto its root. A parent code never exceeds its own,
    so each root is its component's minimum code, i.e. its minimum id."""
    ends = [tbl.column(c).combine_chunks() for c in ("u", "v")]
    nodes = pc.unique(pa.concat_arrays(ends))
    nodes = nodes.take(pc.sort_indices(nodes))
    u, v = (pc.index_in(end, value_set=nodes).to_numpy() for end in ends)
    parent = np.arange(len(nodes))
    while True:
        pu, pv = parent[u], parent[v]
        split = pu != pv
        if not split.any():
            break
        np.minimum.at(parent, np.maximum(pu, pv)[split], np.minimum(pu, pv)[split])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    out = pa.table({"node": nodes, "cluster_id": nodes.take(pa.array(parent))})
    return spark.createDataFrame(out)


# Canonical edge sets up to this size are resolved on the driver. Sized by
# driver memory, not speed (the driver path was faster at every size
# measured). Peak extra Python driver RSS and wall (connected_components
# plus a count of its output, min of 3) with ~40-character url ids,
# local[4] on a 4-vCPU host:
#   250k edges, 62.5k nodes (4 edges/node)        +71 MB  2.3 s (star 11.5 s)
#   250k edges, 500k nodes (every edge a cluster) +139 MB  4.9 s
#   1M edges, 250k nodes (4 edges/node)           +287 MB  5.4 s
# so 250k edges bound the driver's share at about 140 MB. Most of it is the
# collected edge table and the assignment table handed back to Spark; the
# numpy resolution adds little.
CC_DRIVER_MAX_EDGES = 250_000


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """edges(u, v) -> assignments(node, cluster_id) with cluster_id = min
    member of the component. Nodes appearing in no edge are absent (the
    caller unions singletons); self-loops and duplicate edges are dropped.

    With string or integral node ids, the canonical edge set is collected
    once, limited to ``CC_DRIVER_MAX_EDGES`` + 1 rows (a bound on driver
    memory). When it fits, it is resolved exactly on the driver; otherwise,
    or for other node types, the distributed star loop runs.
    ``max_iterations`` bounds only that loop. Both give identical output."""
    canon = _canon(edges)
    dt = canon.schema["u"].dataType
    if dt == T.StringType() or isinstance(dt, T.IntegralType):
        tbl = canon.limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
        if tbl.num_rows <= CC_DRIVER_MAX_EDGES:
            return _cc_driver(tbl, edges.sparkSession)
    return _cc_star(edges, max_iterations)


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
