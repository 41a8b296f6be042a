"""The one build path, pinned.

The fixture-corpus triples and the kernel-kind edge multiset are pinned to
values captured from the build that still ran a second, independent
implementation of the same passes (grouped ``applyInPandas`` CFG, dominator
and reaching-def passes, which matched the fused kernel edge for edge). Each
pin is (row count, order-independent digest): xxhash64 of each row summed in
decimal(38,0), which cannot overflow under ANSI mode.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joern_spark.corpus import fixture_docs_df
from joern_spark.pipeline import run_pipeline

TRIPLES_PIN = (37033, -697576288404496677446)
KERNEL_EDGE_PINS = {
    "CFG": (1758, -76270567593538131496),
    "DOMINATE": (1701, -262293936968496769027),
    "POST_DOMINATE": (1701, 107199333709343297767),
    "CDG": (335, -175864915894479950662),
    "REACHING_DEF": (4101, -217513940033109857863),
}


def _digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["d"])


def _kernel_edge_digests(edges: DataFrame) -> dict[str, tuple[int, int]]:
    return {
        kind: _digest(edges.filter(F.col("kind") == kind),
                      ["src", "dst", "kind", "variable"])
        for kind in KERNEL_EDGE_PINS
    }


def test_triples_match_pin(cpg):
    assert _digest(cpg.triples, ["subj", "pred", "obj"]) == TRIPLES_PIN


def test_kernel_edges_match_pin(cpg):
    assert _kernel_edge_digests(cpg.edges) == KERNEL_EDGE_PINS


def test_over_budget_fallback_end_to_end(spark, monkeypatch):
    """The at-scale configuration on the fixture corpus: an enclosing
    ``dim_fits_hint(False)`` tells every budgeted join the dims do NOT fit,
    and a disabled size threshold keeps Catalyst from broadcasting small
    sides on its own. The triples must equal the pinned default run's, the
    kernel's deferred lookups must plan no broadcast, and the fact frames
    must stay lazy (nothing collected to the driver)."""
    import joern_spark.operators.type_recovery as tr
    from joern_spark.operators.ast_pass import parse_docs, split_rows
    from joern_spark.operators.dims import dim_fits_hint
    from joern_spark.operators.method_kernels import (
        fused_method_kernels,
        kernel_type_events,
        vetted_reaching_defs,
    )

    facts_seen = []
    orig = tr.collect_recovery_dicts

    def recording(nodes):
        facts = orig(nodes)
        facts_seen.append(facts)
        return facts

    monkeypatch.setattr(tr, "collect_recovery_dicts", recording)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with dim_fits_hint(False):
            res = run_pipeline(spark, fixture_docs_df(spark), n_parts=4)
            assert _digest(res.triples, ["subj", "pred", "obj"]) == TRIPLES_PIN
            assert _kernel_edge_digests(res.edges) == KERNEL_EDGE_PINS

            nodes0, _, _ = split_rows(parse_docs(fixture_docs_df(spark)))
            facts = orig(nodes0)
            rows = fused_method_kernels(nodes0)
            for df in (kernel_type_events(rows, facts.method_returns,
                                          facts.members),
                       vetted_reaching_defs(rows, facts.internal_methods)):
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "Broadcast" not in plan, plan
    finally:
        spark.conf.set(key, prev)

    assert len(facts_seen) == 1
    (facts,) = facts_seen
    assert res.stats["kind_counts"] == facts.kind_counts
    for frame in (facts.internal_methods, facts.method_returns, facts.members):
        assert isinstance(frame, DataFrame)
