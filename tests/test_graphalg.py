"""Cycle-detection tests (reference: internal/graph/types_test.go:259-375)."""

from __future__ import annotations

from logshipper_spark.graphalg import cycle_key, find_cycles, find_new_cycles

from .conftest import plan_string


def test_two_node_cycle():
    adj = {"a": ["b"], "b": ["a"]}
    cycles = find_cycles(adj)
    assert len(cycles) == 1
    assert cycle_key(cycles[0]) == "a|b"


def test_triangle():
    adj = {"a": ["b"], "b": ["c"], "c": ["a"]}
    cycles = find_cycles(adj)
    assert len(cycles) == 1
    assert cycle_key(cycles[0]) == "a|b|c"


def test_dag_negative():
    adj = {"a": ["b", "c"], "b": ["d"], "c": ["d"], "d": []}
    assert find_cycles(adj) == []


def test_self_loop():
    adj = {"a": ["a"]}
    cycles = find_cycles(adj)
    assert len(cycles) == 1
    assert cycle_key(cycles[0]) == "a"


# ── types_test.go:363-369 canonical key rotation ──
def test_cycle_key_canonicalization():
    assert cycle_key(["b", "c", "a", "b"]) == "a|b|c"
    assert cycle_key(["c", "a", "b"]) == "a|b|c"
    assert cycle_key([]) == ""


# ── once-only reporting across calls ──
def test_known_cycles_reported_once():
    known: set[str] = set()
    adj = {"a": ["b"], "b": ["a"]}
    assert len(find_cycles(adj, known)) == 1
    assert find_cycles(adj, known) == []  # second call: already known


# ── distributed cycle membership (the oracle-checkable reformulation) ──


def _brute_membership(edges: list[tuple[str, str]]) -> dict[str, bool]:
    """Independent ground truth: BFS reachability per node."""
    adj: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes |= {s, d}
    out = {}
    for n in sorted(nodes):
        seen: set[str] = set()
        stack = list(adj.get(n, []))
        hit = False
        while stack:
            v = stack.pop()
            if v == n:
                hit = True
                break
            if v in seen:
                continue
            seen.add(v)
            stack.extend(adj.get(v, []))
        out[n] = hit
    return out


def _check_membership(spark, edges: list[tuple[str, str]]) -> None:
    from logshipper_spark.graphalg import cycle_membership

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["on_cycle"] for r in cycle_membership(df).collect()}
    assert got == _brute_membership(edges)


def test_membership_bridge_between_cycles(spark):
    # x sits on a path BETWEEN two cycles but on no cycle itself —
    # the case naive trimming (remove deg-0 nodes) gets wrong
    edges = [("a", "b"), ("b", "a"), ("b", "x"), ("x", "c"),
             ("c", "d"), ("d", "c")]
    _check_membership(spark, edges)


def test_membership_dag_self_loop_and_chain(spark):
    _check_membership(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    _check_membership(spark, [("a", "a"), ("a", "b")])
    # long ring exercises multiple closure rounds
    ring = [(f"n{i}", f"n{(i + 1) % 7}") for i in range(7)]
    _check_membership(spark, ring + [("n0", "t"), ("t", "u")])


def test_membership_agrees_with_dfs_reporting(spark):
    """Membership == union of nodes in DFS-reported cycles, on a graph
    where every on-cycle node appears in some reported cycle."""
    from logshipper_spark.graphalg import cycle_membership

    edges = [("a", "b"), ("b", "a"), ("c", "d"), ("d", "e"), ("e", "c"),
             ("f", "a"), ("b", "f2")]
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, [])
    reported = set()
    for cyc in find_cycles(adj):
        reported |= set(cyc)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"] for r in cycle_membership(df).collect() if r["on_cycle"]}
    assert got == reported


def test_find_new_cycles_from_edges(spark):
    df = spark.createDataFrame(
        [("billing", "payment", "op"), ("payment", "billing", "op2"),
         ("api-gw", "billing", "op3")],
        "src string, dst string, op string",
    )
    cycles = find_new_cycles(df)
    assert [cycle_key(c) for c in cycles] == ["billing|payment"]


def test_cycle_key_expr_matches_python(spark):
    """Relational canonicalization (cycle_key_expr) is byte-identical to
    the driver-side cycle_key for every shape: trailing-repeat closure,
    duplicate minimal nodes, single node, ties, empty."""
    from logshipper_spark.graphalg import cycle_key_expr

    paths = [
        ["b", "a", "c"],
        ["b", "a", "c", "b"],        # trailing repeat of the head
        ["s3", "s0", "s3", "s3"],    # duplicate min after trim
        ["a"],
        ["a", "a"],                  # self-loop closure
        ["z", "a", "a", "b"],        # tied minimal nodes -> first wins
        [],
    ]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(paths)],
                               "i int, path array<string>")
    got = {r["i"]: r["k"] for r in
           df.select("i", cycle_key_expr("path").alias("k")).collect()}
    for i, p in enumerate(paths):
        assert got[i] == cycle_key(p), (p, got[i], cycle_key(p))


def test_with_cycle_key_matches_expr_and_stays_in_codegen(spark):
    from logshipper_spark.graphalg import cycle_key_expr, with_cycle_key
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, ["b", "c", "a", "b"]),
            (2, ["x", "y"]),
            (3, ["z"]),
            (4, []),
            (5, None),
        ],
        "i long, path array<string>",
    )
    a = {r.i: r.k for r in df.select(
        "i", cycle_key_expr("path").alias("k")).collect()}
    b = {r.i: r.k for r in with_cycle_key(df, "path", "k")
         .select("i", "k").collect()}
    assert a == b
    # a deliberately heavy path expression must still compile: the
    # staged form's plan keeps WholeStageCodegen (the inline form
    # overflowed 64 KB on this shape and fell back to interpreted)
    heavy = F.expr(
        "CASE CAST(i % 3 AS INT) "
        "WHEN 0 THEN array('s' || CAST(i % 5 AS STRING),"
        " 's' || CAST(i % 3 AS STRING), 's' || CAST(i % 7 AS STRING),"
        " 's' || CAST(i % 5 AS STRING)) "
        "WHEN 1 THEN array('s' || CAST(i % 7 AS STRING),"
        " 's' || CAST(i % 4 AS STRING)) "
        "ELSE array('s' || CAST(i % 2 AS STRING)) END"
    )
    staged = with_cycle_key(df.select("i"), heavy, "k")
    plan = plan_string(staged)
    # '*(n)' prefixes in the compact plan mark WholeStageCodegen spans;
    # the Project carrying the key must be inside one
    assert plan.lstrip().startswith("*("), plan.splitlines()[0]
    staged.collect()  # and it runs


def test_pagerank_matches_python_reference(spark):
    """Integer-micro PageRank equals a scalar replay of the exact same
    recurrence — weighted edges, a dangling node (c), a pure sink, and
    NULL endpoints (dropped)."""
    from pyspark.sql import functions as F

    from logshipper_spark.graphalg import PR_SCALE, pagerank

    rows = [
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("d", "a", 1),
        ("b", "a", 2), (None, "a", 9), ("a", None, 9),
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, iterations=8, weight_col="w").collect()
    }

    e = {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 2, ("d", "a"): 1,
         ("b", "a"): 2}
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    W = {}
    for (s, _), w in e.items():
        W[s] = W.get(s, 0) + w
    tele = (PR_SCALE - 850_000) * PR_SCALE // (PR_SCALE * n)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(8):
        sums = {v: 0 for v in nodes}
        for (s, d), w in e.items():
            sums[d] += r[s] * w // W[s]
        r = {v: tele + 850_000 * sums[v] // PR_SCALE for v in nodes}
    assert got == r
    # determinism across runs
    again = {
        r2["node"]: r2["rank_micro"]
        for r2 in pagerank(edges, iterations=8, weight_col="w").collect()
    }
    assert again == got
    # unweighted default: hub 'a' outranks the leaf-only 'd'
    uw = {
        r2["node"]: r2["rank_micro"]
        for r2 in pagerank(edges.select("src", "dst"), iterations=8).collect()
    }
    assert uw["a"] > uw["d"]


def test_bfs_depths(spark):
    """Semi-naive BFS: fewest-hop depths, cycles don't loop, the root
    re-reached keeps depth 0, unreachable nodes absent, NULL edges
    dropped."""
    from logshipper_spark.graphalg import bfs_depths

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),  # cycle back to root
         ("a", "c"),                           # shortcut: c at depth 1
         ("b", "d"), ("x", "y"), (None, "b"), ("a", None)],
        "src string, dst string",
    )
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    # isolated root: just itself
    alone = {r["node"]: r["depth"]
             for r in bfs_depths(edges, "zzz").collect()}
    assert alone == {"zzz": 0}
