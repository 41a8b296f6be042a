"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Headline set: the CPG triple factory end-to-end (the north-star workload)
plus one representative from each analytics family. Extra keys report
triples/sec — the BASELINE.json throughput metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from joern_spark.analytics import ann, dedup, relational, text
    from joern_spark.pipeline import run_pipeline
    from joern_spark.session import get_spark, host_cpus
    from joern_spark.synth import synth_docs

    cpus = host_cpus()

    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    timings: dict[str, float] = {}
    extras: dict = {}

    # --- headline: CPG triple factory end-to-end -------------------------
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = synth_docs(documents).persist()
    n_docs = docs.count()
    t0 = time.time()
    res = run_pipeline(spark, docs, n_parts=max(cpus, 8))
    n_triples = res.triples.count()
    timings["cpg_pipeline"] = round(time.time() - t0, 2)
    extras["docs"] = n_docs
    extras["triples"] = n_triples
    extras["triples_per_sec"] = round(n_triples / timings["cpg_pipeline"], 1)

    # --- analytics representatives --------------------------------------
    for name, fn in [
        ("dedup_minhash_lsh", dedup.lsh_pairs),
        ("dedup_ngram_jaccard", dedup.ngram_jaccard_pairs),
        ("ann_lsh_topk", ann.ann_lsh_topk),
        ("text_quality", text.text_quality),
        ("rel_pricing_summary", relational.pricing_summary),
    ]:
        t0 = time.time()
        fn(spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 2)

    total = round(sum(timings.values()), 2)
    print(json.dumps({
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extras,
    }))


if __name__ == "__main__":
    main()
