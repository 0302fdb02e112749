"""Connected-components fixtures (FIXTURES.md section 7): chain, star, two
components joined by one edge, singleton handling, determinism, and the
driver union-find path against the distributed star loop."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from crocodile_spark.operators.clustering import (
    _cc_star,
    cluster_records,
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["u", "v"])
    rows = connected_components(df).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star(spark):
    got = _cc(spark, [("m", "a"), ("m", "b"), ("m", "c")])
    assert got == {"m": "a", "a": "a", "b": "a", "c": "a"}


def test_two_components_bridged(spark):
    got = _cc(spark, [("a", "b"), ("c", "d"), ("b", "c"), ("x", "y")])
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["x"] == got["y"] == "x"


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {"a": "a", "b": "a"}


def test_self_loop_only_yields_nothing(spark):
    df = spark.createDataFrame([("a", "a")], ["u", "v"])
    assert connected_components(df).count() == 0


def test_cluster_records_singletons(spark):
    records = spark.createDataFrame([("u1",), ("u2",), ("u3",)], ["url"])
    scored = spark.createDataFrame(
        [("u1", "u2", True), ("u1", "u3", False)], ["url_a", "url_b", "is_edge"]
    )
    got = {
        r["url"]: r["cluster_id"] for r in cluster_records(records, scored).collect()
    }
    assert got["u1"] == got["u2"] == "u1"
    assert got["u3"] == "u3"  # singleton clusters to itself


def test_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_dictionary_encoded_cc_matches_string_cc(spark):
    """r4: the long-encoded star loop must produce byte-identical
    assignments to the string-space law (cluster_id = min member URL),
    which the driver union-find computes directly."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    n, comp = 600, 40
    edges = []
    for i in range(n):
        a = rng.randrange(comp)
        edges.append((f"https://site-{a}.example/p{rng.randrange(50)}",
                      f"https://site-{a}.example/p{rng.randrange(50)}"))
    df = spark.createDataFrame(edges, "u string, v string")
    plain = connected_components(df)
    enc = _cc_star(df, max_iterations=20)
    rp = sorted(map(tuple, plain.collect()))
    re_ = sorted(map(tuple, enc.collect()))
    assert rp == re_ and len(rp) > 0
    # every cluster_id is the lexicographic min of its members
    mins = (
        enc.groupBy("cluster_id").agg(F.min("node").alias("mn")).collect()
    )
    assert all(r["cluster_id"] == r["mn"] for r in mins)


# Characters whose UTF-16 order differs from their code-point (UTF-8 byte)
# order: U+FFFF sorts after U+1F600 in Java's String.compareTo but before it
# in Spark's binary order and in Python's str order.
_ID_CHARS = ["a", "b", "Z", "0", "\x00", "\xe9", "\u4e2d", "\uffff", "\U0001f600"]
_STR_IDS = st.text(alphabet=st.sampled_from(_ID_CHARS), max_size=3)
_LONG_IDS = st.one_of(st.integers(-5, 5), st.integers(-(2**63), 2**63 - 1))


@st.composite
def _graph(draw):
    kind = draw(st.sampled_from(["string", "bigint"]))
    pool = draw(
        st.lists(_STR_IDS if kind == "string" else _LONG_IDS, min_size=1,
                 max_size=8, unique=True)
    )
    node = st.sampled_from(pool)
    # a small pool makes duplicate, reversed and self-loop edges common
    return kind, draw(st.lists(st.tuples(node, node), max_size=20))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(_graph())
@example(("string", []))
@example(("bigint", [(3, 3)]))
@example(("string", [("\uffff", "\U0001f600"), ("\U0001f600", "\uffff"),
                     ("\U0001f600", "\uffff"), ("b", "b")]))
def test_driver_cc_equals_star_loop(spark, case):
    """The driver union-find path equals the distributed star loop on
    every small graph: string ids (non-ASCII included, so Python's str order
    must equal Spark's binary order), long ids, duplicate and reversed
    edges, self-loops and the empty edge set."""
    kind, edges = case
    df = spark.createDataFrame(edges, f"u {kind}, v {kind}")
    driver = connected_components(df)
    star = _cc_star(df, max_iterations=20)
    assert driver.schema == star.schema
    assert sorted(map(tuple, driver.collect())) == sorted(map(tuple, star.collect()))
