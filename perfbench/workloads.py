"""The benchmark's workloads: set-up, one timed operation, output checks.

Both are a closed loop with one client, this process: the next operation
starts when the previous one has returned. Spark runs at ``local[cores]``.

- ``build_large``: ``run_pipeline`` over ``BUILD_DOCS`` seeded synth docs,
  ending when the triples are written, after an untimed warm-up build.
  Per-row Python work (parse, fused kernel) and per-row shuffle/spill
  carry about half of it, the fixed planning and scheduling cost the rest.
- ``query_mix``: the read side over the saved ``nodes``/``edges`` of the
  fixture corpus: a scan over ``SCAN_PACKS``, ``N_FLOWS`` seeded
  ``FlowEngine.flow`` queries, and the five analytics representatives on
  seeded sf0.1-shaped tables. No build layer runs in the timed section.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import random
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer

DEFAULT_SEED = 1
BUILD_DOCS = 3_000
WARMUP_DOCS = 20
WARMUP_SEED = 1_000_003  # offset: the warm-up corpus never overlaps
SCAN_PACKS = ("ghidra", "php")
N_FLOWS = 5
SINKS_PER_FLOW = 25
_HERE = os.path.dirname(os.path.abspath(__file__))
WORKSPACE = os.path.join(os.path.dirname(_HERE), ".bench_work", "workspace")


def expected() -> dict:
    with open(os.path.join(_HERE, "expected.json")) as f:
        return json.load(f)


def _source_hash() -> str:
    """sha256 prefix over every file of the ``joern_spark`` package."""
    import joern_spark

    root = os.path.dirname(joern_spark.__file__)
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def n_parts(cores: int) -> int:
    return max(2 * cores, 8)


@dataclass
class Outcome:
    """What the timed section produced, before any check has looked at it."""

    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # workload-specific figures for the printed table: name -> samples
    samples: dict[str, list[float]] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        """Count a failed operation; inside an ``except`` block, also print
        the exception's traceback to stderr."""
        self.failed += 1
        self.problems.append(what)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent digest): xxhash64 of each row summed in
    decimal(38,0), which cannot overflow under ANSI mode."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["d"])


# ---------------------------------------------------------------------------
# build_large
# ---------------------------------------------------------------------------

def synth_corpus(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """``n`` seeded doc ids through ``synth_docs``, cached and counted."""
    from joern_spark.synth import synth_docs

    ids = spark.createDataFrame([(d,) for d in inputs.doc_ids(seed, n)],
                                "doc_id string")
    docs = synth_docs(ids).persist()
    docs.count()
    return docs


def build_once(spark: SparkSession, tracer: Tracer, docs: DataFrame,
               path: str, parts: int):
    """``run_pipeline`` ending with the triples written to ``path``."""
    from joern_spark.pipeline import run_pipeline

    with tracer.span("build"):
        res = run_pipeline(spark, docs, n_parts=parts)
        with tracer.span("triples", tag="triples"):
            res.triples.write.mode("overwrite").parquet(path)
    return res


class BuildLarge:
    name = "build_large"

    def __init__(self, spark: SparkSession, seed: int, work: str, cores: int,
                 tracer: Tracer):
        self.spark, self.seed, self.work = spark, seed, work
        self.parts = n_parts(cores)
        self.tracer = tracer
        self.results: list[tuple[object, str]] = []

    def setup(self, timings: dict) -> None:
        t = time.perf_counter()
        self.docs = synth_corpus(self.spark, self.seed, BUILD_DOCS)
        timings["synth.gen_s"] = time.perf_counter() - t
        # untimed warm-up build on a small corpus from another seed: JVM JIT,
        # code generation and Python-worker imports land in setup_s, not op_s
        warm = synth_corpus(self.spark, self.seed + WARMUP_SEED, WARMUP_DOCS)
        self.warm = build_once(self.spark, self.tracer, warm,
                               os.path.join(self.work, "triples-warmup"),
                               self.parts)

    def op(self, out: Outcome) -> None:
        out.attempted += 1
        path = os.path.join(self.work, f"triples-{len(self.results)}")
        t = time.perf_counter()
        try:
            res = build_once(self.spark, self.tracer, self.docs, path,
                             self.parts)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            out.fail(f"build raised {e!r}")
            return
        dt = time.perf_counter() - t
        out.op_s.append(dt)
        out.add("build_s", dt)
        self.results.append((res, path))

    def probe(self, out: Outcome) -> None:
        """One query round over the warm-up build's CPG, so that a traced
        run measures the query layers too (on a 20-doc CPG)."""
        sf_dir = inputs.write_analytics_tables(
            self.seed, os.path.join(self.work, "sf"))
        reads = ReadSide.of(self.warm.nodes, self.warm.edges, sf_dir)
        query_round(self.spark, self.tracer, reads, self.seed, out)

    def check(self, out: Outcome) -> None:
        """Span invariant, per-doc triple counts and the triple digest, for
        every build of the run; a build whose output is wrong counts as
        failed.

        A synth doc's triple count depends only on its language slice and
        on whether it carries a media span (both fixed by ``synth_key``), so
        every doc is checked against the pinned per-class count at any
        seed. All builds of a run see the same docs (traced or not), so
        their digests must agree; at the default seed the digest is pinned
        as well."""
        pin = expected()[self.name]
        first = None
        for i, (res, path) in enumerate(self.results):
            triples = self.spark.read.parquet(path)
            n, d = digest(triples, ["subj", "pred", "obj", "doc_id"])
            out.add("triples", n)
            out.extra[f"build {i} triples"] = f"{n} digest {d}"
            first = first or (n, d)
            bad = (self._span_problem(res)
                   or self._per_doc_problem(triples, pin["per_doc_triples"]))
            if not bad and (n, d) != first:
                bad = f"{n} triples, digest {d} != build 0's {first}"
            if not bad and self.seed == DEFAULT_SEED and (n, str(d)) != (
                    pin["triples"], pin["digest"]):
                bad = (f"{n} triples, digest {d} != pinned {pin['triples']}, "
                       f"{pin['digest']}")
            if bad:
                out.fail(f"build {i}: {bad}")
        for dt, n in zip(out.samples.get("build_s", []),
                         out.samples.get("triples", [])):
            out.add("triples_per_s", n / dt)

    def _per_doc_problem(self, triples: DataFrame,
                         per_class: dict[str, int]) -> str | None:
        """Docs whose helper names collide (same ``synth_key % 10**6``) also
        link each other's calls, so they must have at least the class count;
        every other doc must have exactly it."""
        from joern_spark.ids import synth_key

        got = {r[0]: r[1] for r in triples.groupBy("doc_id").count().collect()}
        got.pop("<global>", None)  # corpus-wide vocabulary rows
        keys = {f"synth/{d}": synth_key(d)
                for d in inputs.doc_ids(self.seed, BUILD_DOCS)}
        helpers = Counter(k % 1_000_000 for k in keys.values())
        wrong = []
        for doc in sorted(set(got) | set(keys)):
            k = keys.get(doc)
            want = None if k is None else per_class[f"{k % 11},{int(k % 5 == 0)}"]
            n = got.get(doc)
            ok = (n is not None and want is not None
                  and (n == want or (helpers[k % 1_000_000] > 1 and n > want)))
            if not ok:
                wrong.append((doc, n, want))
        if wrong:
            return (f"{len(wrong)} docs with unexpected triple counts "
                    f"(doc, got, want), e.g. {wrong[:3]}")
        return None

    def _span_problem(self, res) -> str | None:
        """Provenance spans must equal the input spans, as multisets of
        (doc_id, kind, text, media_ref, offset), compared both ways."""
        want = self.docs.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref",
            F.col("s.offset").cast("long").alias("span_offset"))
        got = res.spans.select("doc_id", "kind", "text", "media_ref",
                               F.col("span_offset").cast("long"))
        missing = want.exceptAll(got).count()
        extra = got.exceptAll(want).count()
        if missing or extra:
            return f"span invariant: {missing} missing, {extra} extra spans"
        return None


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def analytics_reps():
    from joern_spark.analytics import ann, dedup, relational, text

    return (("lsh_pairs", dedup.lsh_pairs),
            ("ngram_jaccard_pairs", dedup.ngram_jaccard_pairs),
            ("ann_lsh_topk", ann.ann_lsh_topk),
            ("text_quality", text.text_quality),
            ("pricing_summary", relational.pricing_summary))


def expected_pack_counts(path: str = os.path.join(
        "tests", "test_export_scan.py")) -> dict[str, int]:
    """``_EXPECTED_PACK_COUNTS`` as pinned by the scan test, read from its
    source so the benchmark and the test share one set of numbers."""
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == "_EXPECTED_PACK_COUNTS"
                        for t in node.targets)):
            return ast.literal_eval(node.value)
    raise RuntimeError(f"_EXPECTED_PACK_COUNTS not found in {path}")


@dataclass
class ReadSide:
    """What a query round reads: a CPG's frames and the seeded tables."""

    nodes: DataFrame
    edges: DataFrame
    sf_dir: str
    calls: list[int]
    params: DataFrame
    param_ids: set[int]

    @classmethod
    def of(cls, nodes: DataFrame, edges: DataFrame, sf_dir: str) -> ReadSide:
        calls = sorted(r[0] for r in nodes.filter(F.col("kind") == "CALL")
                       .select("node_id").collect())
        params = nodes.filter(F.col("kind") == "METHOD_PARAMETER_IN") \
            .select("node_id")
        return cls(nodes, edges, sf_dir, calls, params,
                   {r[0] for r in params.collect()})


def query_round(spark: SparkSession, tracer: Tracer, reads: ReadSide,
                seed: int, out: Outcome) -> dict:
    """Scan, then flow queries, then the analytics representatives; returns
    the answers for the checks. Each query counts as one operation."""
    from joern_spark.dataflow import FlowEngine
    from joern_spark.scan import run_scan

    got: dict = {"flows": [], "analytics": {}}
    t_round = time.perf_counter()

    out.attempted += 1
    t = time.perf_counter()
    try:
        with tracer.span("scan", tag="scan"):
            got["findings"] = [r["name"] for r in run_scan(
                reads.nodes, reads.edges, packs=list(SCAN_PACKS))
                .select("name").collect()]
        out.add("scan_s", time.perf_counter() - t)
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        out.fail(f"scan raised {e!r}")

    # a fresh engine per round rebuilds its relations on the first query;
    # the same seeded sinks every round, so rounds are comparable
    engine = FlowEngine(reads.nodes, reads.edges)
    rng = random.Random(seed)
    for i in range(N_FLOWS):
        sinks = rng.sample(reads.calls, min(SINKS_PER_FLOW, len(reads.calls)))
        out.attempted += 1
        t = time.perf_counter()
        try:
            sink_df = spark.createDataFrame([(s,) for s in sinks],
                                            "node_id long")
            pairs = [(r[0], r[1]) for r in
                     engine.flow(sink_df, reads.params).collect()]
        except Exception as e:  # noqa: BLE001
            out.fail(f"flow {i} raised {e!r}")
            continue
        dt = time.perf_counter() - t
        if i == 0:  # also builds the engine's backward relations
            out.add("flow_relations_s", dt)
        else:
            out.add("flow_ms", dt * 1000)
        got["flows"].append((sinks, pairs))

    t_an = time.perf_counter()
    for name, fn in analytics_reps():
        out.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(f"analytics.{name}", tag="analytics"):
                got["analytics"][name] = fn(spark, reads.sf_dir).count()
        except Exception as e:  # noqa: BLE001
            out.fail(f"{name} raised {e!r}")
            continue
        out.add(f"analytics.{name}_s", time.perf_counter() - t)
    out.add("analytics_s", time.perf_counter() - t_an)

    out.op_s.append(time.perf_counter() - t_round)
    return got


class QueryMix:
    name = "query_mix"

    def __init__(self, spark: SparkSession, seed: int, work: str, cores: int,
                 tracer: Tracer):
        self.spark, self.seed, self.work = spark, seed, work
        self.parts = n_parts(cores)
        self.tracer = tracer
        self.rounds: list[dict] = []

    def setup(self, timings: dict) -> None:
        from joern_spark.workspace import Workspace

        t = time.perf_counter()
        sf_dir = inputs.write_analytics_tables(
            self.seed, os.path.join(self.work, "sf"))
        timings["synth.gen_s"] = time.perf_counter() - t
        # The fixture CPG does not depend on the seed. The first run in a
        # checkout builds it and saves it as a workspace project; every run
        # then opens the saved frames (a parquet read), as a user reopens a
        # project. The name carries a hash of the program's source, so a
        # changed program never reads a CPG an older one built.
        ws = Workspace(WORKSPACE)
        name = f"fixture-{_source_hash()}"
        if name not in {p["name"] for p in ws.projects()}:
            ws.import_code(self.spark, None, name=name, n_parts=self.parts)
        cpg = ws.open(self.spark, name)
        self.reads = ReadSide.of(cpg.nodes, cpg.edges, sf_dir)

    def op(self, out: Outcome) -> None:
        self.rounds.append(
            query_round(self.spark, self.tracer, self.reads, self.seed, out))

    def probe(self, out: Outcome) -> None:
        """One 20-doc build, so that a traced run measures the build layers
        too."""
        docs = synth_corpus(self.spark, self.seed + WARMUP_SEED, WARMUP_DOCS)
        out.attempted += 1
        try:
            build_once(self.spark, self.tracer, docs,
                       os.path.join(self.work, "triples-probe"), self.parts)
        except Exception as e:  # noqa: BLE001
            out.fail(f"probe build raised {e!r}")

    def check(self, out: Outcome) -> None:
        """Every round asks the same queries, so each must give the same
        answers: findings per pack as pinned by the scan test, flow pairs
        inside the queried sinks and sources with one digest across rounds,
        and analytics row counts equal across rounds. At the default seed
        the flow digest and the row counts are pinned as well."""
        from joern_spark.scan import QUERY_PACKS

        pin = expected()[self.name]
        want_packs = {p: n for p, n in expected_pack_counts().items()
                      if p in SCAN_PACKS}
        first = None
        for i, got in enumerate(self.rounds):
            if "findings" in got:
                packs = dict(Counter(QUERY_PACKS[n] for n in got["findings"]))
                if packs != want_packs:
                    out.fail(f"round {i}: findings per pack {packs} != "
                             f"{want_packs}")
            for sinks, pairs in got["flows"]:
                stray = [p for p in pairs
                         if p[1] not in sinks or p[0] not in self.reads.param_ids]
                if stray:
                    out.fail(f"round {i}: flow pairs outside the query "
                             f"{stray[:3]}")
            out.add("flow_pairs", sum(len(p) for _s, p in got["flows"]))
            answer = (self._flow_digest(got), got["analytics"])
            first = first or answer
            if answer != first:
                out.fail(f"round {i}: answers differ from round 0: {answer} "
                         f"!= {first}")
            elif self.seed == DEFAULT_SEED and answer != (
                    pin["flow_digest"], pin["analytics_rows"]):
                out.fail(f"round {i}: {answer} != pinned "
                         f"{(pin['flow_digest'], pin['analytics_rows'])}")
        if first:
            out.extra["flow_digest"], out.extra["analytics_rows"] = first

    @staticmethod
    def _flow_digest(got: dict) -> str:
        h = hashlib.sha256()
        for sinks, pairs in got["flows"]:
            h.update(repr((sinks, sorted(pairs))).encode())
        return h.hexdigest()


WORKLOADS = {"build_large": BuildLarge, "query_mix": QueryMix}
