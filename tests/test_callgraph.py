"""Call-graph linking tests (StaticCallLinker / DynamicCallLinker /
MethodStubCreator semantics — SURVEY.md §2.A #7, #22, #23).

Mirrors the reference's CallGraphQueryTests
(c2cpg/src/test/.../querying/CallGraphQueryTests.scala).
"""

from tests.conftest import F3, F5, F6


def test_static_link_internal(g):
    """main → print_number resolves to the internal method."""
    calls = g.calls(F3)
    hit = [c for c in calls if c[0] == "print_number(42)"]
    assert len(hit) == 1
    assert hit[0][1] == "print_number"
    assert hit[0][3] is False  # internal


def test_external_stub_created_and_linked(g):
    """printf has no definition: MethodStubCreator makes an external stub
    (MethodStubCreator.scala:27-51) and the linker targets it."""
    calls = g.calls(F3)
    hit = [c for c in calls if c[0] == "printf(x)"]
    assert len(hit) == 1
    assert hit[0][1] == "printf"
    assert hit[0][3] is True  # external stub


def test_every_call_is_linked(cpg):
    """link_misses side output is empty on the fixture corpus."""
    assert cpg.link_misses.count() == 0


def test_java_internal_call(g):
    calls = g.calls(F5)
    hit = [c for c in calls if c[0] == "internalMethod()"]
    assert len(hit) == 1 and hit[0][3] is False


def test_java_external_call(g):
    calls = g.calls(F5)
    hit = [c for c in calls if c[0] == "super.toString()"]
    assert len(hit) == 1 and hit[0][3] is True


def test_dynamic_dispatch_cha(g):
    """a.f() with static type A resolves to implementors via CHA
    (DynamicCallLinker.scala:82-126): A.f and the override B.f."""
    calls = g.calls(F6)
    targets = {c[2] for c in calls if c[0] == "a.f()"}
    assert "A.f" in targets
    assert "B.f" in targets


def test_operator_calls_link_to_operator_stubs(g):
    """<operator>.* calls link to external operator stubs, keeping the call
    graph total (needed for semantics-driven dataflow)."""
    calls = g.calls(F6) + g.calls(F3)
    op = [c for c in calls if c[1].startswith("<operator>")]
    assert all(c[3] for c in op)


# ---- METHOD_REF + MethodRefLinker (MethodRefLinker.scala:12-29) ------------

def test_method_ref_emitted_and_linked(cpg, g):
    from tests.conftest import F10

    nodes = g.doc_nodes(F10)
    refs = nodes[nodes["kind"] == "METHOD_REF"]
    # `submit(handler)` uses handler outside call position → one METHOD_REF
    assert list(refs["full_name"]) == ["handler"]
    ref_id = refs.index[0]
    handler = nodes[(nodes["kind"] == "METHOD") & (nodes["name"] == "handler")]
    assert len(handler) == 1
    e = g.doc_edges(F10, "REF")
    linked = e[(e["src"] == ref_id) & (e["dst"] == handler.index[0])]
    assert len(linked) == 1, "METHOD_REF must REF-link to its METHOD"


def test_method_ref_is_call_argument(cpg, g):
    from tests.conftest import F10

    nodes = g.doc_nodes(F10)
    ref_id = nodes[nodes["kind"] == "METHOD_REF"].index[0]
    submit = nodes[(nodes["kind"] == "CALL") & (nodes["name"] == "submit")]
    e = g.doc_edges(F10, "ARGUMENT")
    assert len(e[(e["src"] == submit.index[0]) & (e["dst"] == ref_id)]) == 1


def test_inheritance_closure_distributed_matches_driver(cpg, monkeypatch):
    """The distributed closure (taken above SMALL_HIERARCHY_LIMIT
    INHERITS_FROM rows) yields the same (sub, sup) set as the driver-side
    walk the fixture corpus normally takes."""
    from joern_spark.operators import callgraph

    def pairs():
        rows = callgraph.inheritance_closure(cpg.nodes, cpg.edges).collect()
        return {(r["sub"], r["sup"]) for r in rows}

    driver = pairs()
    monkeypatch.setattr(callgraph, "SMALL_HIERARCHY_LIMIT", 0)
    distributed = pairs()
    assert distributed == driver
    # the fixture has a non-reflexive edge, so the loop does real rounds
    assert any(sub != sup for sub, sup in driver)
