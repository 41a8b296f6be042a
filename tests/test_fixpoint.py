"""operators.fixpoint.semi_naive on a small cyclic edge list (no CPG)."""

from pyspark.sql import functions as F

from joern_spark.operators.fixpoint import semi_naive

# 1→2→3→1 is a cycle; 3→4→5 hangs off it; 6 is unreachable from 1
EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 1)]


def _closure(spark, max_rounds):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    seed = spark.createDataFrame([(1, 0)], "node_id long, hops int")
    rounds = []

    def step(frontier):
        rounds.append(frontier)
        return (
            frontier.join(edges, frontier.node_id == edges.src)
            .select(F.col("dst").alias("node_id"),
                    (F.col("hops") + 1).alias("hops"))
            .distinct()
        )

    rows = semi_naive(seed, step, ["node_id"], max_rounds).collect()
    return {r["node_id"]: r["hops"] for r in rows}, len(rounds)


def test_exact_closure_stops_before_cap(spark):
    reached, rounds = _closure(spark, max_rounds=50)
    # every node reachable from 1, each once, at its minimum hop count
    assert reached == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # four rounds add rows, the fifth adds nothing and ends the loop
    assert rounds == 5


def test_one_round_is_seed_plus_one_hop(spark):
    reached, rounds = _closure(spark, max_rounds=1)
    assert reached == {1: 0, 2: 1}
    assert rounds == 1
