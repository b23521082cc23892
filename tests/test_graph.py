"""Graph-operator invariants: market-basket lift bounds and PageRank
fixed-point properties (mass conservation under integer truncation,
teleport floor, determinism under repartitioning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.cache import release_persisted
from airflow_postgres_to_s3_pipeline_spark.operators import graph


def test_cooccurrence_lift_bounds(spark, sf_dir):
    rows = graph.part_cooccurrence_lift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # pair support cannot exceed either marginal
        assert r["c_ab"] <= min(r["c_a"], r["c_b"])
        assert r["c_ab"] >= graph.MIN_SUPPORT
        assert r["lift"] > 0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_pagerank_mass_and_floor(spark, sf_dir):
    """Full-rank invariants (no top-N cut): total nano-rank mass stays
    within integer-truncation slack of SCALE, and every rank is at least
    the teleport floor."""
    edges = graph._symmetric_edges(spark, sf_dir).persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    teleport = (graph.PR_SCALE * (100 - graph.PR_DAMP_NUM) // 100) // n
    ranks = graph.pagerank_parts(spark, sf_dir, iterations=2)
    top = ranks.collect()
    assert len(top) == graph.PR_TOP_N
    assert all(r["pr_nano"] >= teleport for r in top)
    prs = [r["pr_nano"] for r in top]
    assert prs == sorted(prs, reverse=True)


def test_pagerank_deterministic_under_partitioning(spark, sf_dir):
    """Integer arithmetic only: any shuffle-partition setting yields
    byte-identical ranks."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = {(r["node"], r["pr_nano"])
         for r in graph.pagerank_parts(spark, sf_dir).collect()}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {(r["node"], r["pr_nano"])
             for r in graph.pagerank_parts(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b


def test_bfs_hops_invariants(spark, sf_dir):
    """Source is the minimum node at hops 0; every hop-k node has at
    least one neighbor at hop k-1; no node appears twice."""
    from collections import defaultdict

    edges = {(r["src"], r["dst"])
             for r in graph._symmetric_edges(spark, sf_dir).collect()}
    nbrs = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
    rows = graph.bfs_hops(spark, sf_dir).collect()
    hops = {}
    for r in rows:
        assert r["node"] not in hops
        hops[r["node"]] = r["hops"]
    src = min(n for n, _ in edges)
    assert hops[src] == 0
    for node, h in hops.items():
        if h > 0:
            assert any(hops.get(p) == h - 1 for p in nbrs[node])


def _edge_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "pa long, pb long"
    )


def test_wedge_observation_matches_closed_form(spark):
    """The runtime Observation on the wedge stage must report exactly the
    wedge count predicted from the degree distribution (Σ in·out over
    middle vertices) — the executed-metric guard for the kernel's cost
    driver, per the scan-metrics-probe pattern."""
    from pyspark.sql import Observation

    # small graph with hub 3 plus two triangles
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (3, 5),
             (4, 5), (0, 3)]
    for orient in ("degree", "id"):
        edges = _edge_df(spark, pairs)
        obs = Observation(f"wedges_{orient}")
        tri = graph._triangles_from_edges(edges, orient, obs)
        tri.collect()  # action → observation materializes
        assert obs.get["n_wedges"] == graph.expected_wedge_count(
            _edge_df(spark, pairs), orient
        )


def test_degree_orientation_bounds_wedges_on_skewed_graph(spark):
    """THE load-bearing optimization guard: on a hub-skewed graph the
    degree orientation must enumerate strictly fewer wedges than id
    orientation (the hub stops being a wedge middle), while producing
    identical triangle counts."""
    from pyspark.sql import Observation

    hub = 500
    n = 1000
    pairs = [(min(s, hub), max(s, hub)) for s in range(n) if s != hub]
    # ring edges among some spokes -> triangles through the hub
    pairs += [(i, i + 1) for i in range(0, 40, 2)]

    counts = {}
    wedges = {}
    for orient in ("degree", "id"):
        obs = Observation(f"skew_wedges_{orient}")
        tri = graph._triangles_from_edges(_edge_df(spark, pairs), orient, obs)
        counts[orient] = {(r["vertex"], r["n_triangles"])
                          for r in tri.collect()}
        wedges[orient] = obs.get["n_wedges"]

    assert counts["degree"] == counts["id"]
    assert counts["degree"]  # the fixture does contain triangles
    # id orientation puts the mid-id hub in the middle of ~(n/2)^2 wedges;
    # degree orientation points every spoke edge INTO the hub (out-degree
    # 0) so only the sparse ring contributes
    assert wedges["id"] > 100_000
    assert wedges["degree"] < wedges["id"] // 100


def test_edge_iterator_matches_wedge_join(spark, sf_dir):
    """The r7 edge-iterator fast path must produce bit-identical per-part
    counts to the wedge-join reference, for both orientations and both
    adjacency-join modes."""
    from pyspark.sql import Observation

    obs = Observation("ref_wedges")
    ref = {
        (r["l_partkey"], r["n_triangles"])
        for r in graph.triangle_count(
            spark, sf_dir, wedge_observation=obs
        ).collect()
    }
    fast = {
        (r["l_partkey"], r["n_triangles"])
        for r in graph.triangle_count(spark, sf_dir).collect()
    }
    assert fast == ref
    # r13: the single-pass contribution explode (default) must match the
    # r7 3-branch union shape it replaced — same multiset of counts
    edges = (
        graph._basket_pair_edges(spark, sf_dir)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("pa", "pb")
    )
    union3 = {
        (r["vertex"], r["n_triangles"])
        for r in graph._triangles_edge_iterator(
            edges, contrib_mode="union3"
        ).collect()
    }
    assert union3 == fast
    # shuffle-join degradation path (the >TRI_ADJ_BROADCAST_MAX_BYTES
    # branch) on a synthetic edge list
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (0, 3)]
    e = _edge_df(spark, pairs)
    bro = {
        (r["vertex"], r["n_triangles"])
        for r in graph._triangles_edge_iterator(
            _edge_df(spark, pairs), broadcast_adj=True
        ).collect()
    }
    shf = {
        (r["vertex"], r["n_triangles"])
        for r in graph._triangles_edge_iterator(
            e, broadcast_adj=False
        ).collect()
    }
    assert bro == shf
    assert bro == {
        (r["vertex"], r["n_triangles"])
        for r in graph._triangles_from_edges(
            _edge_df(spark, pairs), "degree"
        ).collect()
    }


def test_adjacency_broadcast_byte_gate(spark, monkeypatch):
    """The broadcast decision is BYTE-bounded (r7 ADVICE: the old 50M-EDGE
    gate allowed multi-GB adjacency broadcasts).  Above the budget the
    auto mode (broadcast_adj=None) must pick the shuffle-join fallback
    and still produce identical counts; below it the broadcast plan must
    ship the adjacency once (second side is a ReusedExchange, not a
    second BroadcastExchange build)."""
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (0, 3), (4, 5)]
    e = _edge_df(spark, pairs)
    expected = {
        (r["vertex"], r["n_triangles"])
        for r in graph._triangles_edge_iterator(e, broadcast_adj=True).collect()
    }

    # force the byte budget below this fixture's estimate -> auto fallback.
    # Spark's own size-based auto-broadcast would still kick in on a
    # 7-edge fixture, so suppress it to observe the un-hinted plan the
    # gate would produce at real scale (where adjacency >> the auto
    # threshold and no engine-side broadcast happens either).
    monkeypatch.setattr(graph, "TRI_ADJ_BROADCAST_MAX_BYTES", 1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = graph._triangles_edge_iterator(_edge_df(spark, pairs))
        forced.count()
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, (
            "byte gate did not trip: adjacency still broadcast above budget"
        )
        assert {
            (r["vertex"], r["n_triangles"]) for r in forced.collect()
        } == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # generous budget -> broadcast path, adjacency shipped once.  r14: the
    # r13 shape relied on a1/a2 static exchange reuse that AQE did NOT
    # honor at runtime (each cache scan gets its own TableCacheQueryStage,
    # so the relation was built and shipped twice); the fused kernel keeps
    # only ONE adjacency join by construction (the probe side carries
    # N+(source) out of the adjacency explode), so the executed plan must
    # contain exactly two broadcast stages total: the degree attach and
    # the single adjacency join.
    monkeypatch.setattr(
        graph, "TRI_ADJ_BROADCAST_MAX_BYTES", 128 * 1024 * 1024
    )
    fast = graph._triangles_edge_iterator(_edge_df(spark, pairs))
    assert {
        (r["vertex"], r["n_triangles"]) for r in fast.collect()
    } == expected
    final = fast._jdf.queryExecution().executedPlan().finalPhysicalPlan()

    def count_stages(node, name):
        n = 1 if name in node.getClass().getSimpleName() else 0
        kids = [node.children().apply(i)
                for i in range(node.children().size())]
        if "QueryStageExec" in node.getClass().getSimpleName():
            kids.append(node.plan())
        return n + sum(count_stages(k, name) for k in kids)

    n_broadcast_stages = count_stages(final, "BroadcastQueryStageExec")
    assert n_broadcast_stages == 1, (
        f"{n_broadcast_stages} broadcast stages executed — the adjacency "
        "relation must materialize into exactly ONE broadcast (the degree "
        "attach runs inside the adjacency cache's own materialization)"
    )


def _hub_basket_dir(spark, tmp_path):
    """Two identical 30-part hub orders (so hub pairs pass MIN_SUPPORT)
    plus two normal 3-part orders sharing their parts; returns the dir."""
    rows = []
    for okey in (900, 901):  # the hub baskets: parts 0..29
        rows += [(okey, p) for p in range(30)]
    for okey in (1, 2):  # normal baskets: parts 100..102 co-occur twice
        rows += [(okey, p) for p in (100, 101, 102)]
    d = str(tmp_path / "hub_baskets")
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{d}/lineitem.parquet")
    return d


def test_basket_cap_drops_hub_keeps_normal_lift(spark, tmp_path):
    """The graph kernels' twin of the dedup-chain hub caps: a 30-part
    basket emits C(30,2)=435 pair rows per hub order — quadratic edge
    CONSTRUCTION, before degree orientation can help — while normal
    baskets' pairs must survive the cap untouched."""
    d = _hub_basket_dir(spark, tmp_path)
    unc = {
        (r.part_a, r.part_b)
        for r in graph.part_cooccurrence_lift(spark, d, max_basket=0).collect()
    }
    cap = {
        (r.part_a, r.part_b)
        for r in graph.part_cooccurrence_lift(spark, d, max_basket=10).collect()
    }
    hub_pairs = {p for p in unc if p[0] < 30 and p[1] < 30}
    assert hub_pairs  # support 2 via the duplicated hub order
    # uncapped, the 435 equal-lift hub pairs fill the top-N before the
    # normal pair's part ids sort in — the hub drowning out real signal
    # is itself part of the failure mode; capped, the normal pair is back
    assert (100, 101) not in unc
    assert (100, 101) in cap
    assert not (cap & hub_pairs)


def test_basket_cap_binding_matches_oracle(spark, tmp_path):
    """Binding-cap parity for lift and triangles: the Spark window cap and
    the oracle's QUALIFY (swapped in via the single-sourced _basket_sql)
    must agree row-for-row at a cap that binds."""
    import duckdb

    d = _hub_basket_dir(spark, tmp_path)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{d}/lineitem.parquet/*.parquet'"
    )
    for name, op, key in (
        ("part_cooccurrence_lift",
         lambda: graph.part_cooccurrence_lift(spark, d, max_basket=10),
         lambda r: (r[0], r[1], r[2], r[3], r[4], r[5])),
        ("triangle_count",
         lambda: graph.triangle_count(spark, d, max_basket=10),
         lambda r: (r[0], r[1])),
    ):
        sql = graph.ORACLES[name].replace(
            graph._basket_sql(), graph._basket_sql(10)
        )
        assert graph._basket_sql(10) in sql  # the swap must have landed
        got = sorted(key(tuple(r)) for r in op().collect())
        want = sorted(key(tuple(r)) for r in con.sql(sql).fetchall())
        assert got == want, name
        assert len(got) > 0, name  # normal-basket results, never vacuous


def test_basket_sql_zero_cap_means_disabled():
    """max_basket=0 must mean cap DISABLED in _basket_sql exactly as in
    _baskets — never QUALIFY <= 0."""
    assert f"<= {graph.BASKET_CAP}" in graph._basket_sql()
    assert "QUALIFY" not in graph._basket_sql(0)


def test_basket_pair_edges_matches_self_join_reference(spark, tmp_path):
    """The posexplode pair kernel (one collect_set exchange, cap as a
    size filter) must emit the EXACT multiset of the capped basket
    self-join it replaced — per-order C(b,2) pairs with pa < pb, over-cap
    orders excluded — on a corpus with a duplicated hub order and
    multi-order pairs (multiset multiplicity).  The symmetric feed
    (i != j) must be that multiset plus its mirror, which at cap=0 is the
    uncapped union fallback itself; at the default (non-binding) cap the
    kernel runs over the hub orders too."""
    d = _hub_basket_dir(spark, tmp_path)
    for cap in (0, 10, graph.BASKET_CAP):
        got = sorted(
            (r.pa, r.pb)
            for r in graph._basket_pair_edges(
                spark, d, max_basket=cap
            ).collect()
        )
        b = graph._baskets(spark, d, max_basket=cap)
        a, c = b.alias("a"), b.alias("c")
        want = sorted(
            (r.pa, r.pb)
            for r in a.join(
                c,
                (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("c.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("pa"),
                F.col("c.l_partkey").alias("pb"),
            )
            .collect()
        )
        assert got == want, f"cap={cap}"
        assert len(got) > 0
        sym = sorted(
            (r.pa, r.pb)
            for r in graph._basket_pair_edges_sym(
                spark, d, max_basket=cap
            ).collect()
        )
        assert sym == sorted(want + [(pb, pa) for pa, pb in want]), (
            f"sym cap={cap}"
        )


def _lineitem_dir(spark, tmp_path, name, baskets):
    """Write one order per basket (a list of part ids) as the lineitem
    table of a fresh dir; returns the dir."""
    rows = [(o, p) for o, parts in enumerate(baskets) for p in parts]
    d = str(tmp_path / name)
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{d}/lineitem.parquet")
    return d


def _bfs_oracle_rows(d):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{d}/lineitem.parquet/*.parquet')"
    )
    return con.sql(graph.ORACLES["bfs_hops"]).fetchall()


@pytest.mark.parametrize(
    "name,edges",
    [
        # same-layer edges: the far ends 3-4 of the 7-cycle meet inside
        # layer 3, and the chord 2-5 joins two layer-2 nodes
        ("odd_cycle", [(i, (i + 1) % 7) for i in range(7)]
         + [(2, 5), (2, 9), (9, 10)]),
        # a hub two hops from the source whose spokes are also joined
        # among themselves, one spoke leading on past the hub
        ("hub", [(0, 1), (1, 2)] + [(2, s) for s in range(10, 40)]
         + [(s, s + 1) for s in range(10, 39, 2)] + [(39, 50), (50, 51)]),
        # a path longer than BFS_MAX_HOPS: the tail is cut by the bound
        ("long_path", [(i, i + 1) for i in range(graph.BFS_MAX_HOPS + 4)]),
        # the source's component (a 5-path) is the smaller of two, so the
        # reached count never equals |V| and the loop ends on the empty
        # layer
        ("two_components", [(i, i + 1) for i in range(4)]
         + [(i, i + 1) for i in range(100, 119)]),
    ],
)
def test_bfs_hops_two_layer_anti_join_matches_oracle(spark, tmp_path,
                                                    name, edges):
    """Each hop excludes only the previous two layers (valid because the
    adjacency is symmetric); on graphs with same-layer edges, a hub,
    reachable nodes beyond the hop bound, and vertices the source cannot
    reach, the result must equal the recursive-CTE oracle run on
    DuckDB."""
    d = _lineitem_dir(spark, tmp_path, name, [list(e) for e in edges])
    got = sorted(tuple(r) for r in graph.bfs_hops(spark, d).collect())
    release_persisted()
    assert got == sorted(_bfs_oracle_rows(d))
    assert max(h for _, h in got) >= 3  # deep enough to use both layers


def test_bfs_hops_edgeless_graph_returns_oracle_base_row(spark, tmp_path):
    """No order holds two distinct parts, so there are no edges: the
    result is the oracle's ``SELECT MIN(src), 0`` base row, (NULL, 0)."""
    d = _lineitem_dir(spark, tmp_path, "edgeless", [[1], [2, 2], [3]])
    got = [tuple(r) for r in graph.bfs_hops(spark, d).collect()]
    release_persisted()
    assert got == [(None, 0)]
    assert got == _bfs_oracle_rows(d)


def test_bfs_hops_zero_hops_returns_source_only(spark, sf_dir):
    """max_hops=0 returns the source (the minimum part with an edge) at
    hop 0 and nothing else."""
    got = [tuple(r) for r in graph.bfs_hops(spark, sf_dir, max_hops=0)
           .collect()]
    src = (
        graph._basket_pair_edges(spark, sf_dir)
        .agg(F.min("pa").alias("s"))
        .first()["s"]
    )
    release_persisted()
    assert got == [(src, 0)]


def _bfs_build_jobs(spark, sf_dir, **kwargs):
    """Spark jobs run while bfs_hops builds its result (the eager loop,
    not the final action)."""
    import uuid

    sc = spark.sparkContext
    group = f"bfs_hops_build_{uuid.uuid4().hex}"  # the tracker keeps old groups
    sc.setJobGroup(group, "bfs_hops build")
    try:
        graph.bfs_hops(spark, sf_dir, **kwargs)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_persisted()


def test_bfs_hops_build_job_budget(spark, sf_dir):
    """Build-layer guard: building bfs_hops' result runs at most 8 Spark
    jobs on this fixture.  The source reaches every vertex by hop 2, so
    the build is the adjacency materialization (the persist's cache
    stage and the noop write whose Observation yields |V|, the source
    and its degree) plus the hop-2 layer (join, exchange, anti-join
    side, checkpoint); the lazy hop-1 lookup costs none, and the reached
    count stops the loop before a hop-3 round that would come back
    empty.  Stages map to jobs differently without AQE, so the guard is
    AQE-only."""
    import os

    if os.environ.get("SPARK_GRAFT_AQE") == "0":
        pytest.skip("job count is calibrated for adaptive execution")
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    table(spark, sf_dir, "lineitem")  # the catalog's one-time schema read
    jobs = _bfs_build_jobs(spark, sf_dir)
    assert 0 < jobs <= 8, f"{jobs} build jobs"


def test_bfs_hops_hop_join_shuffles_only_the_frontier(spark, sf_dir,
                                                      monkeypatch):
    """With broadcasts off (the plan a frontier too big to broadcast
    gets), no hop re-shuffles the adjacency: the persisted adjacency
    keeps the groupBy's hash(src) partitioning, so the one exchange
    keyed on src is the frontier's."""
    hops = []
    real = graph.checkpoint

    def spy(df, *args):
        hops.append(df)
        return real(df, *args)

    monkeypatch.setattr(graph, "checkpoint", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        graph.bfs_hops(spark, sf_dir)
        plans = [df._jdf.queryExecution().executedPlan().toString()
                 for df in hops]
    finally:
        spark.conf.set(key, before)
        release_persisted()
    assert plans
    for plan in plans:
        assert plan.count("Exchange hashpartitioning(src") == 1, plan


def test_bfs_hops_star_source_stops_after_hop_one(spark, tmp_path):
    """A star whose center is the source, with more leaves than
    ADJ_CHUNK: hop 1 reaches every vertex, so the build runs exactly the
    jobs of the same call bounded at one hop.  That needs the source's
    whole degree (1500), not the size of its first adjacency chunk."""
    leaves = 1500
    assert leaves > graph.ADJ_CHUNK
    d = _lineitem_dir(spark, tmp_path, "star",
                      [[0, leaf] for leaf in range(1, leaves + 1)])
    got = sorted(tuple(r) for r in graph.bfs_hops(spark, d).collect())
    release_persisted()
    assert got == sorted(_bfs_oracle_rows(d))
    assert len(got) == 1 + leaves
    assert _bfs_build_jobs(spark, d) == _bfs_build_jobs(spark, d, max_hops=1)
