"""TrustRank seeded propagation (ops/linkgraph.trustrank_fixed_point)."""

from pyspark.sql import functions as F

from html_parser_spark.ops.linkgraph import trustrank_fixed_point


class TestTrustRank:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, ["src", "dst", "weight"])

    def test_spam_island_gets_zero(self, spark):
        # trusted component: s -> a -> b ; spam ring c <-> d unreachable
        # from the seed. TrustRank of c,d must be exactly 0.
        edges = self._edges(
            spark,
            [("s", "a", 1), ("a", "b", 1), ("c", "d", 1), ("d", "c", 1)],
        )
        seeds = spark.createDataFrame([("s",)], ["node"])
        r = {row.node: row.rank for row in trustrank_fixed_point(edges, seeds, 3).collect()}
        assert r["c"] == 0 and r["d"] == 0
        assert r["a"] > 0 and r["s"] > 0

    def test_mass_conservation_bound(self, spark):
        edges = self._edges(
            spark, [("s", "a", 2), ("a", "b", 1), ("b", "s", 1), ("a", "s", 3)]
        )
        seeds = spark.createDataFrame([("s",)], ["node"])
        total = (
            trustrank_fixed_point(edges, seeds, 3)
            .agg(F.sum("rank"))
            .collect()[0][0]
        )
        # floor-division losses only: total ≤ S, within N·iterations units
        S = 10**12
        assert S - 4 * 3 * 100 <= total <= S

    def test_absent_seeds_ignored_empty_seed_zero(self, spark):
        edges = self._edges(spark, [("a", "b", 1)])
        seeds = spark.createDataFrame([("nope",)], ["node"])
        r = trustrank_fixed_point(edges, seeds, 2)
        assert [row.rank for row in r.collect()] == [0, 0]

    def test_seeded_vs_pagerank_differs(self, spark):
        from html_parser_spark.ops.linkgraph import pagerank_fixed_point

        edges = self._edges(
            spark,
            [("s", "a", 1), ("a", "s", 1), ("x", "y", 1), ("y", "x", 1)],
        )
        seeds = spark.createDataFrame([("s",)], ["node"])
        tr = {row.node: row.rank for row in trustrank_fixed_point(edges, seeds, 3).collect()}
        pr = {row.node: row.rank for row in pagerank_fixed_point(edges, 3).collect()}
        # plain PageRank scores the two 2-cycles identically; TrustRank
        # concentrates all mass on the seeded one
        assert pr["s"] == pr["x"]
        assert tr["s"] > tr["x"] == 0
