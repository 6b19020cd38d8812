"""Graph query layer: the reference's SPARQL template catalog
(/root/reference/src/graph/query_engine.py:59-162) and graph-store
traversals (graph_store.py:318-390, 630-662) as DataFrame plans.

Conventions: ``t`` is the triples DataFrame (repo, subj, pred, obj, is_uri,
dtype). ``edge(t, p)`` projects one predicate into a narrow (repo, src,
dst) slice that Catalyst prunes and pushes down. All joins are name-based
equi-joins on (repo, <uri col>) so plans stay unambiguous and co-partition
on the same keys; the small name/target dimensions broadcast. Transitive
closure is an iterative frontier join with a visited-set anti-join and
per-iteration localCheckpoint to cut lineage (SURVEY.md §4.1 — Spark has
no recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edge(t: DataFrame, pred: str, src: str = "src", dst: str = "dst") -> DataFrame:
    return t.filter(F.col("pred") == pred).select(
        "repo", F.col("subj").alias(src), F.col("obj").alias(dst)
    )


def names(t: DataFrame, uri: str = "uri", name: str = "name") -> DataFrame:
    return t.filter(F.col("pred") == "code:hasName").select(
        "repo", F.col("subj").alias(uri), F.col("obj").alias(name)
    )


def typed(t: DataFrame, rdf_class: str, uri: str = "uri") -> DataFrame:
    return t.filter((F.col("pred") == "rdf:type") & (F.col("obj") == rdf_class)).select(
        "repo", F.col("subj").alias(uri)
    )


# -- B12: raw-query surface (query_engine.py sparql_query entry point) ------

#: Documented Spark-SQL equivalents of the reference's raw SPARQL entry
#: point, runnable verbatim after register_views(). Keys are descriptions,
#: values are the SQL.
EXAMPLE_SQL = {
    "callers of a named function (B1 twin)": """
        SELECT e.repo, e.subj AS caller_uri, cn.name AS caller_name
        FROM edges e
        JOIN names tn ON tn.repo = e.repo AND tn.uri = e.obj
        JOIN names cn ON cn.repo = e.repo AND cn.uri = e.subj
        WHERE e.pred = 'code:calls' AND tn.name = 'add'
    """,
    "entity counts by rdf:type (B16 twin)": """
        SELECT obj AS entity_type, COUNT(*) AS n
        FROM triples WHERE pred = 'rdf:type' AND obj LIKE 'code:%'
        GROUP BY obj ORDER BY n DESC, entity_type
    """,
    "modules importing a given module (C5 twin)": """
        SELECT repo, subj AS dependent_module
        FROM edges
        WHERE pred = 'code:imports' AND obj LIKE '%moduleB.js#module'
    """,
}


def register_views(spark, t: DataFrame, prefix: str = "") -> None:
    """B12 raw-query surface: expose the graph as temp views so users can
    `spark.sql(...)` directly — the Spark twin of the reference's
    `sparql_query` raw entry point (query_engine.py:164-189). Views:

    - ``{prefix}triples``: the full (repo, subj, pred, obj, is_uri, dtype)
      table;
    - ``{prefix}edges``: URI/bnode-object rows only (the graph's edge set,
      the slice every traversal starts from);
    - ``{prefix}names``: (repo, uri, name) from code:hasName.

    See EXAMPLE_SQL for runnable examples. Views are session-scoped
    metadata only — no data is materialized or cached by registering."""
    t.createOrReplaceTempView(f"{prefix}triples")
    (
        t.filter(F.col("is_uri") | (F.col("dtype") == "bnode"))
        .select("repo", "subj", "pred", "obj")
        .createOrReplaceTempView(f"{prefix}edges")
    )
    names(t).createOrReplaceTempView(f"{prefix}names")


# -- B1/B2: call-edge lookups (query_engine.py:62-74) -----------------------

def functions_calling(t: DataFrame, target_name: str) -> DataFrame:
    """Callers of any function named target_name (reverse edge lookup)."""
    calls = edge(t, "code:calls", "caller_uri", "callee_uri")
    target = names(t, "callee_uri").filter(F.col("name") == target_name).drop("name")
    caller_names = names(t, "caller_uri", "caller_name")
    return (
        calls.join(F.broadcast(target), ["repo", "callee_uri"])
        .join(caller_names, ["repo", "caller_uri"])
        .select("repo", "caller_uri", "caller_name")
    )


def functions_called_by(t: DataFrame, source_name: str) -> DataFrame:
    calls = edge(t, "code:calls", "caller_uri", "callee_uri")
    source = names(t, "caller_uri").filter(F.col("name") == source_name).drop("name")
    callee_names = names(t, "callee_uri", "callee_name")
    return (
        calls.join(F.broadcast(source), ["repo", "caller_uri"])
        .join(callee_names, ["repo", "callee_uri"])
        .select("repo", "callee_uri", "callee_name")
    )


# -- B3: classes implementing interface (query_engine.py:76-81) -------------

def classes_implementing(t: DataFrame, interface_name: str) -> DataFrame:
    impl = edge(t, "code:implements", "class_uri", "iface_uri")
    iface = names(t, "iface_uri").filter(F.col("name") == interface_name).drop("name")
    cls_names = names(t, "class_uri", "class_name")
    return (
        impl.join(F.broadcast(iface), ["repo", "iface_uri"])
        .join(cls_names, ["repo", "class_uri"])
        .select("repo", "class_uri", "class_name")
    )


# -- B4: functions in module (query_engine.py:83-89) ------------------------

def functions_in_module(t: DataFrame, module_name: str) -> DataFrame:
    defines = edge(t, "code:defines", "module_uri", "func_uri")
    mod = names(t, "module_uri").filter(F.col("name") == module_name).drop("name")
    funcs = typed(t, "code:Function", "func_uri")
    fn_names = names(t, "func_uri", "func_name")
    return (
        defines.join(F.broadcast(mod), ["repo", "module_uri"])
        .join(funcs, ["repo", "func_uri"])
        .join(fn_names, ["repo", "func_uri"])
        .select("repo", "func_uri", "func_name")
    )


# -- B5: variables accessed by function (query_engine.py:91-97) -------------

def variables_accessed_by(t: DataFrame, func_name: str) -> DataFrame:
    refs = edge(t, "code:references", "func_uri", "var_uri")
    fn = names(t, "func_uri").filter(F.col("name") == func_name).drop("name")
    var_names = names(t, "var_uri", "var_name")
    vars_ = typed(t, "code:Variable", "var_uri")
    return (
        refs.join(F.broadcast(fn), ["repo", "func_uri"])
        .join(vars_, ["repo", "var_uri"])
        .join(var_names, ["repo", "var_uri"])
        .select("repo", "var_uri", "var_name")
    )


# -- B8: database operations string filter (query_engine.py:113-128) --------

def database_operations(t: DataFrame) -> DataFrame:
    """Functions whose resolved callees have db-ish names (CONTAINS/LCASE)."""
    calls = edge(t, "code:calls", "caller_uri", "callee_uri")
    callee_names = names(t, "callee_uri", "callee_name")
    caller_names = names(t, "caller_uri", "caller_name")
    lc = F.lower(F.col("callee_name"))
    cond = (
        lc.contains("query") | lc.contains("select") | lc.contains("insert")
        | lc.contains("update") | lc.contains("delete") | lc.contains("find")
        | lc.contains("save")
    )
    return (
        calls.join(callee_names, ["repo", "callee_uri"])
        .filter(cond)
        .join(caller_names, ["repo", "caller_uri"])
        .select("repo", "caller_uri", "caller_name", "callee_name")
    )


# -- B9: unused functions — anti-join MINUS (query_engine.py:130-138) -------

def unused_functions(t: DataFrame) -> DataFrame:
    funcs = typed(t, "code:Function")
    exported = t.filter(
        (F.col("pred") == "code:isExported") & (F.col("obj") == "true")
    ).select("repo", F.col("subj").alias("uri"))
    called = edge(t, "code:calls").select("repo", F.col("dst").alias("uri"))
    out = funcs.join(exported, ["repo", "uri"], "left_anti").join(
        called, ["repo", "uri"], "left_anti"
    )
    return out.join(names(t), ["repo", "uri"]).select("repo", "uri", "name")


# -- B10/B11: HAVING-style aggregates (query_engine.py:141-161) -------------

def high_complexity_functions(t: DataFrame, min_calls: int = 5) -> DataFrame:
    calls = edge(t, "code:calls", "uri", "callee_uri")
    agg = (
        calls.groupBy("repo", "uri")
        .agg(F.count("*").alias("call_count"))
        .filter(F.col("call_count") > min_calls)
    )
    return agg.join(names(t), ["repo", "uri"]).orderBy(F.desc("call_count"))


def functions_with_many_parameters(t: DataFrame, min_params: int = 4) -> DataFrame:
    params = edge(t, "code:hasParameter", "uri", "param_uri")
    agg = (
        params.groupBy("repo", "uri")
        .agg(F.count("*").alias("param_count"))
        .filter(F.col("param_count") > min_params)
    )
    return agg.join(names(t), ["repo", "uri"]).orderBy(F.desc("param_count"))


# -- closure engine: B6/B7/B15/B17/B18 (SURVEY.md §4.1) ----------------------

def transitive_closure(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """All (repo, src, dst) pairs reachable via ≥1 hops.

    Path-tripling: each round adds R² ∪ R³ of the known pairs R, so k
    rounds cover every path of up to 3^k hops: a chain of d edges takes
    ⌈log3 d⌉ rounds that add pairs plus one that adds none, not d frontier
    steps (per-round job overhead dominates iterative DataFrame loops).
    The default ``max_iters=20`` covers 3^20 ≈ 3.5·10^9 hops, far beyond
    any chain; if the last allowed round still adds pairs, it raises
    ``RuntimeError`` rather than return a partial closure. New pairs are
    anti-joined against the known set so cycles terminate;
    localCheckpoint() cuts the exploding lineage. edges: (repo, src, dst).
    """
    visited = edges.select("repo", "src", "dst").dropDuplicates(
        ["repo", "src", "dst"]
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        hop = visited.select("repo", F.col("src").alias("dst"), F.col("dst").alias("nxt"))
        # two compositions per round: R² then R³ = R²∘R, so reachable path
        # length TRIPLES each round (⌈log3 d⌉ rounds) — the extra join is
        # far cheaper than another full round's checkpoint + action
        # overhead, and the fixpoint (the closure) is unchanged
        step = (
            visited.join(hop, ["repo", "dst"])
            .select("repo", "src", F.col("nxt").alias("dst"))
            .dropDuplicates(["repo", "src", "dst"])
        )
        step = (
            step.unionByName(
                step.join(hop, ["repo", "dst"]).select(
                    "repo", "src", F.col("nxt").alias("dst")
                )
            )
            .dropDuplicates(["repo", "src", "dst"])
        )
        new = step.join(visited, ["repo", "src", "dst"], "left_anti").localCheckpoint(
            eager=True
        )
        if new.isEmpty():
            break
        # the union IS re-checkpointed: visited feeds three scans next
        # round (self-join both sides + anti-join), and measured r6, the
        # "save one job by skipping this" variant was 28% SLOWER — three
        # union-tree re-plans per round cost more than one materialization
        visited = visited.unionByName(new).localCheckpoint(eager=True)
    else:
        raise RuntimeError(
            f"transitive_closure: new pairs still found after max_iters={max_iters} rounds"
        )
    return visited


def reachable_from(edges: DataFrame, seeds: DataFrame, max_hops: int = 20) -> DataFrame:
    """Nodes reachable from `seeds` in ≥1 hop — a bounded frontier BFS.

    State is frontier-sized (the current wave plus the visited set), never
    the full transitive closure: each hop is one hash equi-join of the edge
    slice against the (broadcast) frontier and one anti-join against
    visited, so the plan survives graphs where the closure itself would be
    O(V·avg-reach). edges: (repo, src, dst); seeds: (repo, uri).
    """
    frontier = seeds.select("repo", "uri").distinct().localCheckpoint(eager=True)
    reached = None
    for _ in range(max_hops):
        step = (
            edges.join(
                F.broadcast(frontier.withColumnRenamed("uri", "src")), ["repo", "src"]
            )
            .select("repo", F.col("dst").alias("uri"))
            .distinct()
        )
        if reached is not None:
            step = step.join(reached, ["repo", "uri"], "left_anti")
        step = step.localCheckpoint(eager=True)
        if step.isEmpty():
            break
        reached = step if reached is None else reached.unionByName(step).localCheckpoint(
            eager=True
        )
        frontier = step
    if reached is None:
        return seeds.select("repo", "uri").limit(0)
    return reached


def reachable_with_path(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 20
) -> DataFrame:
    """B17 with PATH RECOVERY (VERDICT r3 #6): like reachable_from, but
    each reached node carries one shortest path from its seed — matching
    the reference's find_neighbors, which returns a path per reached node
    (graph_store.py:318-348), and networkx single_source_shortest_path
    semantics on unweighted graphs (the seed itself appears with the
    trivial path [seed]).

    Tie-break is deterministic: among equal-length (i.e. all shortest)
    candidate paths the lexicographically smallest array wins. That choice
    is CLOSED under the BFS recursion — min over predecessors u of
    (lexmin-path(u) ++ [v]) is the global lexmin over all shortest paths
    to v, because equal-length array comparison is decided by the p_u
    prefix — so a SQL twin that enumerates bounded simple paths and ranks
    by (length, path) produces byte-identical rows.

    State per hop is frontier-sized with an O(path-length) array per row —
    paths are bounded by max_hops, so a frontier row costs O(max_hops)
    strings, not the closure. Returns (repo, uri, path).
    """
    frontier = (
        seeds.select("repo", "uri")
        .distinct()
        .withColumn("path", F.array(F.col("uri")))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    for _ in range(max_hops):
        step = (
            edges.join(
                F.broadcast(frontier.select("repo", F.col("uri").alias("src"), "path")),
                ["repo", "src"],
            )
            .select(
                "repo",
                F.col("dst").alias("uri"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
            .groupBy("repo", "uri")
            .agg(F.min("path").alias("path"))
        )
        step = step.join(
            visited.select("repo", "uri"), ["repo", "uri"], "left_anti"
        ).localCheckpoint(eager=True)
        if step.isEmpty():
            break
        visited = visited.unionByName(step).localCheckpoint(eager=True)
        frontier = step
    return visited


def chain_intermediates(edges: DataFrame, starts: DataFrame, ends: DataFrame) -> DataFrame:
    """URIs on some path start →+ mid →+ end: bidirectional bounded BFS —
    forward reachability from the start set ∩ backward reachability from the
    end set. Replaces the round-1 full-closure plan (the closure
    materializes O(V·avg-reach) pairs before filtering; the BFS state is
    frontier-sized from both ends)."""
    fwd = reachable_from(edges, starts)
    rev = edges.select("repo", F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = reachable_from(rev, ends)
    return fwd.join(bwd, ["repo", "uri"], "left_semi")


def call_chain_between(t: DataFrame, start_name: str, end_name: str) -> DataFrame:
    """B6 (query_engine.py:99-104): intermediates on a calls+ path."""
    start = names(t).filter(F.col("name") == start_name).drop("name")
    end = names(t).filter(F.col("name") == end_name).drop("name")
    mid = chain_intermediates(edge(t, "code:calls"), start, end)
    return mid.join(names(t), ["repo", "uri"]).select("repo", "uri", "name")


def _min_label_reach(verts: DataFrame, edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """label(v) = min{u : u →* v} ∪ {v} over the active subgraph, by
    min-label propagation WITH label-of-label doubling: each round does
    (1) a neighbor-min relaxation along edges and (2) a jump
    label(v) ← label(label(v)) (valid: if u reaches v and w reaches u then
    w reaches v), so convergence is O(log diameter) rounds instead of
    O(diameter). verts: (repo, uri); edges: (repo, src, dst), both assumed
    restricted to active nodes. Returns (repo, uri, label); raises
    ``RuntimeError`` if labels still change in the last of ``max_iters``
    rounds, since unconverged labels would split components."""
    labels = verts.withColumn("label", F.col("uri")).localCheckpoint(eager=True)
    for _ in range(max_iters):
        via_edge = (
            edges.join(
                labels.select("repo", F.col("uri").alias("src"), "label"),
                ["repo", "src"],
            )
            .select("repo", F.col("dst").alias("uri"), "label")
        )
        relaxed = (
            labels.select("repo", "uri", "label")
            .unionByName(via_edge)
            .groupBy("repo", "uri")
            .agg(F.min("label").alias("label"))
        )
        # TWO pointer jumps per round (label ← label(label) twice): valid
        # because any label of v still reaches v after jumping, so the
        # fixpoint (min node reaching v) is unchanged — but propagation
        # distance compounds faster, cutting the round count (per-round
        # driver/job overhead dominates these loops). The changed-vs-
        # previous compare joins INSIDE the checkpointed plan (one
        # materialization job per round instead of checkpoint + a separate
        # compare-join action).
        jumped = relaxed
        for _ in range(2):
            parent = jumped.select(
                "repo", F.col("uri").alias("label"), F.col("label").alias("grand")
            )
            jumped = jumped.join(parent, ["repo", "label"], "left").select(
                "repo", "uri",
                F.least(F.col("label"), F.coalesce("grand", "label")).alias("label"),
            )
        stepped = (
            jumped.join(labels.select("repo", "uri", F.col("label").alias("_prev")), ["repo", "uri"])
            .withColumn("_chg", F.col("label") != F.col("_prev"))
            .localCheckpoint(eager=True)
        )
        labels = stepped.select("repo", "uri", "label")
        if stepped.filter(F.col("_chg")).isEmpty():
            break
    else:
        raise RuntimeError(
            f"_min_label_reach: labels still changing after max_iters={max_iters} rounds"
        )
    return labels


def strongly_connected_components(
    edges: DataFrame, max_outer: int | None = None, max_iters: int = 20
) -> DataFrame:
    """Distributed SCC: iterated trimming + forward/backward min-label
    coloring (the DataFrame form of FW-BW/coloring SCC — Orzan-style).

    Per outer round over the active subgraph:
    1. **trim to fixpoint**: nodes with no in-edge or no out-edge cannot lie
       on a cycle → assign them singleton SCCs and peel (this alone removes
       the entire acyclic fringe, the bulk of a real module-import graph);
    2. **color**: F(v) = min node that reaches v (forward min-label
       propagation with doubling), B(v) = min node v reaches (same over
       reversed edges);
    3. **assign**: F(v) == B(v) == c ⇒ c reaches v AND v reaches c ⇒
       v ∈ SCC(c). Assign and peel those; in particular the whole SCC of
       the minimum active node resolves every round, so the loop
       terminates.

    State is O(V) labels per step — never the O(V·avg-reach) closure the
    round-2 plan materialized. Returns (repo, uri, scc), scc = min member.

    The outer loop runs until every vertex is assigned: each round resolves
    at least the SCC of the minimum active node, so it terminates in at
    most #SCC rounds. `max_outer` is a hard safety cap (default 10×
    max_iters) that RAISES rather than silently dropping the unresolved
    tail — a chain of >10 non-trivial SCCs used to vanish from the output.
    """
    if max_outer is None:
        max_outer = max_iters * 10
    verts = (
        edges.select("repo", F.col("src").alias("uri"))
        .unionByName(edges.select("repo", F.col("dst").alias("uri")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = edges.select("repo", "src", "dst").distinct().localCheckpoint(eager=True)
    assigned = None

    def _acc(a: DataFrame | None, b: DataFrame) -> DataFrame:
        # plain union tree: every piece is (a cheap filter over) a
        # checkpointed frame, so re-checkpointing each accumulation only
        # added one full-materialization job per round
        return b if a is None else a.unionByName(b)

    for _ in range(max_outer):
        if verts.isEmpty():
            break
        # 1) trim: peel no-in/no-out nodes until fixpoint. Core/peeled are
        # filters over ONE checkpointed outer-joined marking (the two
        # semi-join + anti-join form materialized core and re-derived
        # peeled with a separate join action every round).
        for _ in range(max_iters):
            has_out = e.select("repo", F.col("src").alias("uri")).distinct().withColumn("_o", F.lit(1))
            has_in = e.select("repo", F.col("dst").alias("uri")).distinct().withColumn("_i", F.lit(1))
            marked = (
                verts.join(has_out, ["repo", "uri"], "left")
                .join(has_in, ["repo", "uri"], "left")
                .withColumn("_core", F.col("_o").isNotNull() & F.col("_i").isNotNull())
                .localCheckpoint(eager=True)
            )
            core = marked.filter(F.col("_core")).select("repo", "uri")
            peeled = marked.filter(~F.col("_core")).select("repo", "uri")
            if peeled.isEmpty():
                verts = core
                break
            assigned = _acc(assigned, peeled.withColumn("scc", F.col("uri")))
            verts = core
            e = (
                e.join(core.withColumnRenamed("uri", "src"), ["repo", "src"], "left_semi")
                .join(core.withColumnRenamed("uri", "dst"), ["repo", "dst"], "left_semi")
                .localCheckpoint(eager=True)
            )
        if verts.isEmpty():
            break
        # 2) forward/backward coloring over the trimmed core — two
        # INDEPENDENT label propagations, run as concurrent jobs from two
        # driver threads (guide §2.6: actions are only sequential because
        # the driver calls them sequentially; the backward pass's tasks
        # back-fill executors the forward pass's tail leaves idle)
        rev = e.select("repo", F.col("dst").alias("src"), F.col("src").alias("dst"))
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fut = pool.submit(_min_label_reach, verts, e, max_iters)
            b_fut = pool.submit(_min_label_reach, verts, rev, max_iters)
            fwd = f_fut.result()
            bwd = b_fut.result().withColumnRenamed("label", "blabel")
        # fwd and bwd both cover every active vertex, so the set still
        # unresolved is the != side of the SAME join — no separate
        # anti-join + checkpoint pass
        both = (
            fwd.join(bwd, ["repo", "uri"])
            .withColumn("_hit", F.col("label") == F.col("blabel"))
            .localCheckpoint(eager=True)
        )
        assigned = _acc(
            assigned,
            both.filter(F.col("_hit")).select("repo", "uri", F.col("label").alias("scc")),
        )
        verts = both.filter(~F.col("_hit")).select("repo", "uri")
        if verts.isEmpty():
            break
        e = (
            e.join(verts.withColumnRenamed("uri", "src"), ["repo", "src"], "left_semi")
            .join(verts.withColumnRenamed("uri", "dst"), ["repo", "dst"], "left_semi")
            .localCheckpoint(eager=True)
        )
    if not verts.isEmpty():
        raise RuntimeError(
            f"strongly_connected_components: {verts.count()} vertices still "
            f"unresolved after {max_outer} rounds — raise max_outer (each "
            "round is guaranteed to resolve >=1 SCC, so this indicates an "
            "extremely SCC-chained graph or a bug, not normal input)"
        )
    if assigned is None:  # empty edge set — keep the caller's uri type
        return edges.select(
            "repo", F.col("src").alias("uri"), F.col("src").alias("scc")
        ).limit(0)
    return assigned


def cycle_nodes(edges: DataFrame) -> DataFrame:
    """Nodes lying on some directed cycle: members of an SCC of size > 1,
    plus self-loop nodes. Frontier/label-sized state throughout — replaces
    the round-2 plan that materialized the full transitive closure just to
    filter src == dst."""
    scc = strongly_connected_components(edges)
    sizes = scc.groupBy("repo", "scc").agg(F.count("*").alias("n"))
    multi = (
        scc.join(sizes.filter(F.col("n") > 1).select("repo", "scc"), ["repo", "scc"])
        .select("repo", "uri")
    )
    selfloop = edges.filter(F.col("src") == F.col("dst")).select(
        "repo", F.col("src").alias("uri")
    )
    return multi.unionByName(selfloop).distinct()


def circular_dependencies(t: DataFrame) -> DataFrame:
    """B7 (query_engine.py:106-111): modules on an imports+ cycle —
    detected by distributed SCC (trim + FW-BW coloring), not by
    materializing the imports+ closure."""
    return cycle_nodes(edge(t, "code:imports")).select(
        "repo", F.col("uri").alias("module_uri")
    )


def get_context(
    t: DataFrame, uri: str, depth: int = 1, preds: list[str] | None = None
) -> DataFrame:
    """B15 k-hop neighborhood (graph_store.py:630-662): all triples whose
    subject is within `depth` undirected hops of `uri`.

    `preds` restricts which RELATIONSHIP types the traversal may walk —
    the reference's get_context accepts the same filter
    (query_engine.py:248-295); with preds=["code:calls"] the neighborhood
    grows only along call edges, though all triples of reached subjects
    are still returned. The filter lands on the adjacency scan itself
    (predicate pushdown into the pred-partitioned store → a directory-
    pruned read), not post-hoc.

    The adjacency is symmetrized up front so each hop is a single hash
    equi-join against the broadcast frontier (an OR-condition join would
    degrade to a nested-loop rescan of the link table per hop — asserted
    against in tests). `repo` rides through every join: parameter URIs
    strip file paths (quirk §1.3-2) and would otherwise collide across
    repos."""
    link = t.filter(F.col("is_uri") | (F.col("dtype") == "bnode"))
    if preds is not None:
        link = link.filter(F.col("pred").isin(list(preds)))
    link = link.select("repo", "subj", "obj")
    adj = (
        link.select("repo", F.col("subj").alias("u"), F.col("obj").alias("v"))
        .unionByName(link.select("repo", F.col("obj").alias("u"), F.col("subj").alias("v")))
    )
    # depth > 2: checkpoint the adjacency once and the frontier/visited per
    # hop — otherwise each hop re-derives adj from t and the plan (and its
    # optimization time) grows multiplicatively with depth
    deep = depth > 2
    if deep:
        adj = adj.localCheckpoint(eager=False)
    # seed from BOTH the triple table (the entity's own triples belong to
    # its context even when no edge of the requested preds touches it)
    # AND the symmetrized adjacency (a URI appearing only as an OBJECT —
    # an external module target, say — has no subject rows but does have
    # a neighborhood)
    visited = (
        t.filter(F.col("subj") == uri)
        .select("repo", F.col("subj").alias("u"))
        .unionByName(adj.filter(F.col("u") == uri).select("repo", "u"))
        .distinct()
    )
    frontier = visited
    for _ in range(max(depth, 1)):
        nbrs = (
            adj.join(F.broadcast(frontier), ["repo", "u"])
            .select("repo", F.col("v").alias("u"))
            .distinct()
        )
        frontier = nbrs.join(visited, ["repo", "u"], "left_anti")
        visited = visited.unionByName(frontier).distinct()
        if deep:
            frontier = frontier.localCheckpoint(eager=True)
            visited = visited.localCheckpoint(eager=True)
            if frontier.isEmpty():
                break
    members = visited.withColumnRenamed("u", "subj")
    return t.join(members, ["repo", "subj"]).distinct()


# -- B19: connected components (graph_store.py:364-372; SURVEY §4.2) --------

def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components: on the symmetrized edge set "u reaches v" is
    "u and v share a component", so the min node reaching v
    (``_min_label_reach``, the kernel SCC coloring also runs) is v's
    min-member component id. Returns (repo, uri, component)."""
    sym = (
        edges.select("repo", "src", "dst")
        .unionByName(edges.select("repo", F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = sym.select("repo", F.col("src").alias("uri")).distinct()
    return _min_label_reach(verts, sym, max_iters).withColumnRenamed("label", "component")


# -- B20: degree centrality / pagerank (graph_store.py:374-390) --------------

def degree_centrality(edges: DataFrame) -> DataFrame:
    out_deg = edges.groupBy("repo", F.col("src").alias("uri")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy("repo", F.col("dst").alias("uri")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_deg.join(in_deg, ["repo", "uri"], "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
        .orderBy(F.desc("degree"))
    )


def pagerank(edges: DataFrame, iters: int = 10, damping: float = 0.85) -> DataFrame:
    """Iterative join-aggregate pagerank over (repo, src, dst) edges."""
    verts = (
        edges.select("repo", F.col("src").alias("uri"))
        .unionByName(edges.select("repo", F.col("dst").alias("uri")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_deg = edges.groupBy("repo", F.col("src").alias("uri")).agg(
        F.count("*").alias("deg")
    )
    links = (
        edges.withColumnRenamed("src", "uri")
        .join(out_deg, ["repo", "uri"])
        .select("repo", F.col("uri").alias("src"), "dst", "deg")
        .localCheckpoint(eager=True)
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(iters):
        contribs = (
            links.join(ranks.withColumnRenamed("uri", "src"), ["repo", "src"])
            .select("repo", F.col("dst").alias("uri"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("repo", "uri")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            verts.join(contribs, ["repo", "uri"], "left")
            .fillna(0.0, ["c"])
            .select(
                "repo", "uri",
                (F.lit(1 - damping) + F.lit(damping) * F.col("c")).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.orderBy(F.desc("rank"))


def betweenness_centrality(
    edges: DataFrame, sample_sources: int = 32, max_depth: int = 10
) -> DataFrame:
    """B20 betweenness (graph_store.py:374-390 runs networkx's exact
    Brandes): Brandes' algorithm over a deterministic sample of source
    nodes, fully as DataFrame joins.

    Forward pass: multi-source BFS carrying (root, node, dist, sigma);
    every hop is one hash equi-join edge⋈frontier + a partial-sum groupBy
    for sigma (# shortest paths) + an anti-join against assigned nodes.
    Backward pass (dependency accumulation): levels processed deepest-
    first; delta(v) = Σ_w σ(v)/σ(w)·(1+delta(w)) over DAG edges v→w, again
    one equi-join + groupBy per level. Work is O(S·E) spread across the
    cluster; driver holds only ~2·depth tiny plans. sample_sources ≥ |V|
    degenerates to exact unnormalized betweenness (networkx-comparable,
    pinned in tests); the sample is the min-k of xxhash64(uri) per repo —
    deterministic, no RNG.
    Returns (repo, uri, betweenness) with betweenness = accumulated
    dependency / #sampled-roots in that repo.

    What the knob buys (pinned in tests): on a 200-node hub-structured
    fixture, Spearman rank correlation vs exact Brandes is ≈0.24 at
    sample_sources=8, ≈0.40 at 32, ≈0.81 at 128, 1.0 at ≥|V|. Expected
    error shrinks as O(1/√S) (Brandes–Pich); pick S by the rank
    resolution needed, not graph size."""
    from pyspark.sql import Window

    verts = (
        edges.select("repo", F.col("src").alias("uri"))
        .unionByName(edges.select("repo", F.col("dst").alias("uri")))
        .distinct()
    )
    w = Window.partitionBy("repo").orderBy(F.xxhash64("uri"), "uri")
    roots = (
        verts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_sources)
        .select("repo", F.col("uri").alias("root"))
        .localCheckpoint(eager=True)
    )
    n_roots = roots.groupBy("repo").agg(F.count("*").alias("n_roots"))

    e = edges.select("repo", "src", "dst").distinct().localCheckpoint(eager=True)
    level0 = roots.select(
        "repo", "root", F.col("root").alias("uri"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=True)
    levels = [level0]
    assigned = level0.select("repo", "root", "uri")
    for _ in range(max_depth):
        prev = levels[-1]
        nxt = (
            prev.join(e.withColumnRenamed("src", "uri"), ["repo", "uri"])
            .groupBy("repo", "root", F.col("dst").alias("uri"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(assigned, ["repo", "root", "uri"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        assigned = assigned.unionByName(
            nxt.select("repo", "root", "uri")
        ).localCheckpoint(eager=True)

    # backward sweep: delta at the deepest level is 0
    spark = edges.sparkSession
    deltas_below = levels[-1].withColumn("delta", F.lit(0.0))
    parts = []
    for d in range(len(levels) - 2, -1, -1):
        cur = levels[d]
        succ = deltas_below.select(
            "repo", "root", F.col("uri").alias("dst"),
            F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
        )
        contrib = (
            cur.join(e.withColumnRenamed("src", "uri"), ["repo", "uri"])
            .join(succ, ["repo", "root", "dst"])
            .groupBy("repo", "root", "uri")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("sigma_w") * (1.0 + F.col("delta_w"))
                ).alias("delta")
            )
        )
        cur_delta = (
            cur.join(contrib, ["repo", "root", "uri"], "left")
            .fillna(0.0, ["delta"])
            .localCheckpoint(eager=True)
        )
        parts.append(
            cur_delta.filter(F.col("uri") != F.col("root")).select("repo", "uri", "delta")
        )
        deltas_below = cur_delta
    if not parts:
        return spark.createDataFrame([], "repo string, uri string, betweenness double")
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return (
        acc.groupBy("repo", "uri")
        .agg(F.sum("delta").alias("dep_sum"))
        .join(n_roots, "repo")
        .select(
            "repo", "uri",
            (F.col("dep_sum") / F.col("n_roots")).alias("betweenness"),
        )
        .orderBy(F.desc("betweenness"), "uri")
    )


# -- B13: pattern match (query_engine.py:208-246, 433-483) -------------------

def pattern_match(
    t: DataFrame,
    node_type: str | None = None,
    name_regex: str | None = None,
    edge_pred: str | None = None,
) -> DataFrame:
    """Programmatic builder: type filter + rlike name filter + optional edge
    constraint — the DataFrame analogue of _pattern_to_sparql."""
    base = names(t)
    if node_type:
        base = base.join(typed(t, node_type), ["repo", "uri"])
    if name_regex:
        base = base.filter(F.col("name").rlike(name_regex))
    if edge_pred:
        e = edge(t, edge_pred, "uri", "target")
        base = base.join(e, ["repo", "uri"])
    return base


# -- B18: bounded all-simple-paths (graph_store.py:350-362) ------------------

def simple_paths(edges: DataFrame, src_uri: str, dst_uri: str, cutoff: int = 4) -> DataFrame:
    """All simple paths src→dst up to `cutoff` hops: iterative frontier join
    carrying an array-typed path column with an array_contains cycle guard
    (the DataFrame analogue of nx.all_simple_paths)."""
    base = edges.select("repo", "src", "dst")
    frontier = base.filter(F.col("src") == src_uri).select(
        "repo", F.col("dst").alias("head"), F.array(F.col("src"), F.col("dst")).alias("path")
    )
    found = frontier.filter(F.col("head") == dst_uri).select("repo", "path")
    for _ in range(cutoff - 1):
        frontier = (
            frontier.filter(F.col("head") != dst_uri)
            .join(base.select("repo", F.col("src").alias("head"), F.col("dst").alias("nxt")),
                  ["repo", "head"])
            .filter(~F.array_contains("path", F.col("nxt")))
            .select("repo", F.col("nxt").alias("head"),
                    F.array_append("path", F.col("nxt")).alias("path"))
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        found = found.unionByName(
            frontier.filter(F.col("head") == dst_uri).select("repo", "path")
        )
    return found.withColumn("length", F.size("path") - 1)


# -- B21: density / triangle / clustering stats (graph_store.py:432-455) -----

def graph_density_stats(edges: DataFrame) -> DataFrame:
    """Per-repo node/edge counts, density (directed), and triangle count via
    a 2-hop join closed by a third edge (each triangle counted once by
    ordering its vertices)."""
    sym = (
        edges.select("repo", F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select("repo", F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ordered = sym.filter(F.col("a") < F.col("b"))
    tri = (
        ordered.alias("e1")
        .join(
            ordered.select("repo", F.col("a").alias("b"), F.col("b").alias("c")).alias("e2"),
            ["repo", "b"],
        )
        .join(
            ordered.select("repo", F.col("a").alias("a2"), F.col("b").alias("c")).alias("e3"),
            ["repo", "c"],
        )
        .filter(F.col("a") == F.col("a2"))
        .groupBy("repo")
        .agg(F.count("*").alias("triangles"))
    )
    nodes = (
        sym.select("repo", F.col("a").alias("uri")).distinct()
        .groupBy("repo").agg(F.count("*").alias("n_nodes"))
    )
    n_edges = ordered.groupBy("repo").agg(F.count("*").alias("n_edges"))
    out = (
        nodes.join(n_edges, "repo", "left")
        .join(tri, "repo", "left")
        .fillna(0, ["n_edges", "triangles"])
        .withColumn(
            "density",
            F.when(
                F.col("n_nodes") > 1,
                F.round(2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out
