"""Resolution layer: blocking recall, pair generation (cap + salt),
connected components, and the end-to-end F1 target (≥0.99, the north
rule's bar) on planted truth."""

from pyspark.sql import functions as F

from rosette_elasticsearch_plugin_spark import corpus
from rosette_elasticsearch_plugin_spark.plans.er_pipeline import resolve_documents
from rosette_elasticsearch_plugin_spark.resolution.blocking import (
    BlockingConfig,
    all_blocks,
)
from rosette_elasticsearch_plugin_spark.resolution.clustering import (
    connected_components,
)
from rosette_elasticsearch_plugin_spark.resolution.pairs import candidate_pairs


def test_blocking_covers_variant_pairs(spark):
    names = ["dan aykroyd", "dan akroyd", "aykroyd dan", "владимир путин",
             "vladimir putin", "ghostbusters", "ghost busters"]
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import er_key_col

    df = spark.createDataFrame([(n,) for n in names], "node string")
    keyed = df.select("node", er_key_col(F.col("node")).alias("key"))
    blocks = all_blocks(keyed, BlockingConfig())
    pairs = candidate_pairs(blocks, max_block_size=100)
    got = {(r["node_a"], r["node_b"]) for r in pairs.collect()}

    def covered(a, b):
        return (min(a, b), max(a, b)) in got

    assert covered("dan aykroyd", "dan akroyd")         # typo
    assert covered("dan aykroyd", "aykroyd dan")        # swap (metaphone)
    assert covered("владимир путин", "vladimir putin")  # cross-script (translit)
    assert covered("ghostbusters", "ghost busters")


def test_candidate_pairs_salted_block_complete(spark):
    """A block above salt_threshold must still yield every pair exactly once."""
    n = 24
    rows = [(f"name{i:02d}", "blk") for i in range(n)]
    blocks = spark.createDataFrame(rows, "node string, block_key string")
    pairs = candidate_pairs(blocks, max_block_size=50, n_salt=4, salt_threshold=8)
    got = [(r["node_a"], r["node_b"]) for r in pairs.collect()]
    assert len(got) == len(set(got)) == n * (n - 1) // 2


def test_candidate_pairs_cap_drops_megablock(spark):
    rows = [(f"n{i}", "hot") for i in range(30)] + [("a", "cold"), ("b", "cold")]
    blocks = spark.createDataFrame(rows, "node string, block_key string")
    pairs = candidate_pairs(blocks, max_block_size=20)
    got = {(r["node_a"], r["node_b"]) for r in pairs.collect()}
    assert got == {("a", "b")}


def test_connected_components_chain_and_isolated(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "node_a string, node_b string"
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("lonely",)], "node string"
    )
    got = {r["node"]: r["cluster"] for r in
           connected_components(edges, nodes=nodes).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
                   "lonely": "lonely"}


def test_end_to_end_f1_meets_north_rule(spark):
    for n_docs, n_fam, seed in ((120, 40, 42), (120, 40, 7), (400, 120, 42)):
        c = corpus.generate(n_docs=n_docs, seed=seed, n_extra_families=n_fam)
        docs, truth = corpus.to_spark(spark, c)
        _, name_clusters = resolve_documents(docs)
        t = truth.select("mention_id", "entity_label", "normalized")
        tc = t.join(
            name_clusters.withColumnRenamed("node", "normalized"),
            "normalized", "left",
        ).withColumn("cluster", F.coalesce("cluster", F.col("normalized")))
        a, b = tc.alias("a"), tc.alias("b")
        p = a.join(b, F.col("a.mention_id") < F.col("b.mention_id")).select(
            (F.col("a.entity_label") == F.col("b.entity_label")).alias("m"),
            (F.col("a.cluster") == F.col("b.cluster")).alias("p"),
        ).cache()
        tp = p.where("m and p").count()
        fp = p.where("not m and p").count()
        fn = p.where("m and not p").count()
        prec = tp / max(tp + fp, 1)
        rec = tp / max(tp + fn, 1)
        f1 = 2 * prec * rec / max(prec + rec, 1e-9)
        assert fp == 0, f"seed {seed}: false merges"
        assert f1 >= 0.99, f"seed {seed}: f1={f1:.4f}"


def test_connected_components_long_chain_converges(spark):
    """A 60-link chain needs ~59 rounds under plain min-propagation —
    past the 25-round budget — but pointer halving converges in
    O(log diameter).  All nodes must label to the chain's min node."""
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        connected_components,
    )

    n = 60
    ids = [f"n{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "node_a string, node_b string",
    )
    out = connected_components(edges)
    got = {r["node"]: r["cluster"] for r in out.collect()}
    assert got == {i: ids[0] for i in ids}


def test_adaptive_halving_engages_only_on_chains(spark):
    """The pointer-halving jump join must NEVER run for small-diameter
    components (the dominant name-cluster workload — it would add a
    second vocabulary-scale join per round for nothing) and MUST
    engage for chain-shaped components that plain propagation can't
    finish within the threshold.  stats telemetry is the evidence
    surface the bench exports."""
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        connected_components,
    )

    # star: diameter 2 → converges in ≤3 plain rounds, no halving
    star = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5)], "node_a string, node_b string"
    )
    stats: dict = {}
    out = connected_components(star, stats=stats)
    assert {r["cluster"] for r in out.collect()} == {"hub"}
    assert stats["halving_from_round"] is None
    assert stats["rounds"] <= 3

    # 40-link chain: plain propagation alone would need ~39 rounds —
    # halving must engage at round index 3 and converge well inside 25
    ids = [f"n{i:02d}" for i in range(40)]
    chain = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)],
        "node_a string, node_b string",
    )
    stats2: dict = {}
    out2 = connected_components(chain, stats=stats2)
    assert {r["cluster"] for r in out2.collect()} == {ids[0]}
    assert stats2["halving_from_round"] == 3
    assert stats2["rounds"] <= 12
    # telemetry shape: one changed-count per executed round, last is 0
    assert len(stats2["changed_per_round"]) == stats2["rounds"]
    assert stats2["changed_per_round"][-1] == 0


# --- sorted-neighborhood blocking (resolution/blocking.py)


def _snm_expected(names_keys, window):
    """Brute-force reference: pairs within `window` in (key, node) order."""
    order = [n for _k, n in sorted((k, n) for n, k in names_keys)]
    out = set()
    for i, a in enumerate(order):
        for b in order[i + 1 : i + window]:
            out.add((min(a, b), max(a, b)))
    return out


def test_sorted_neighborhood_matches_bruteforce(spark):
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import er_key_col
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        sorted_neighborhood_pairs,
    )

    names = ["dan aykroyd", "dan akroyd", "aykroyd dan", "qykroyd dan",
             "vladimir putin", "ghostbusters", "ghost busters",
             "анна каренина", "matt damon", "mat damon"]
    df = spark.createDataFrame([(n,) for n in names], "node string")
    keyed = df.select("node", er_key_col(F.col("node")).alias("key"))
    nk = [(r["node"], r["key"]) for r in keyed.collect()]

    for w in (2, 4):
        got = {
            (r["node_a"], r["node_b"])
            for r in sorted_neighborhood_pairs(keyed, window=w).collect()
        }
        assert got == _snm_expected(nk, w), f"window={w}"
        # linear pair budget: n·(w−1) − w·(w−1)/2
        n = len(names)
        assert len(got) == n * (w - 1) - w * (w - 1) // 2


def test_sorted_neighborhood_partition_invariant(spark):
    """The distributed two-phase rank must give the same pair set at
    any partition count (rank = position in the total order, not an
    artifact of range boundaries)."""
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        sorted_neighborhood_pairs,
    )

    rows = [(f"name {i:03d}", f"key {i % 37:03d} {i:03d}") for i in range(150)]
    df = spark.createDataFrame(rows, "node string, key string")
    sets = []
    for p in (1, 3, 16):
        got = {
            (r["node_a"], r["node_b"])
            for r in sorted_neighborhood_pairs(
                df, window=5, num_partitions=p
            ).collect()
        }
        sets.append(got)
    assert sets[0] == sets[1] == sets[2]
    assert len(sets[0]) == 150 * 4 - 5 * 4 // 2


def test_global_rank_is_total_order_position(spark):
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        global_rank,
    )

    rows = [(f"n{i:02d}", f"k{(i * 7) % 23:02d}") for i in range(60)]
    df = spark.createDataFrame(rows, "node string, key string")
    got = {
        r["node"]: r["rank"]
        for r in global_rank(df, ["key", "node"], num_partitions=7).collect()
    }
    want = {
        n: i
        for i, (_k, n) in enumerate(sorted((k, n) for n, k in rows))
    }
    assert got == want


def test_snm_window_recovers_pairs_key_families_miss(spark):
    """ERConfig.snm_window unions sort-adjacency candidates into the
    resolve path: with only exact blocking on, 'dan aykroyd' and 'dan
    aykroyd jr' never share a key, but they sort adjacent — the window
    pairs them and the scorer links them.  Off by default: the same
    config without the window keeps them apart."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        ERConfig,
        resolve_names,
    )

    exact_only = BlockingConfig(use_metaphone=False, use_minhash=False)
    names = spark.createDataFrame(
        [("dan aykroyd",), ("dan aykroyd jr",), ("vladimir putin",)],
        "node string",
    )
    off = {
        r["node"]: r["cluster"]
        for r in resolve_names(names, ERConfig(blocking=exact_only)).collect()
    }
    assert off["dan aykroyd"] != off["dan aykroyd jr"]

    on = {
        r["node"]: r["cluster"]
        for r in resolve_names(
            names, ERConfig(blocking=exact_only, snm_window=2)
        ).collect()
    }
    assert on["dan aykroyd"] == on["dan aykroyd jr"]
    assert on["vladimir putin"] == "vladimir putin"


def _union_find_min_labels(edge_rows, node_rows):
    """Reference: node -> min node of its component (pure Python)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for x in node_rows or ():
        find(x)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Hash-min labels (cluster = component min) equal a union-find
    reference on seeded random graphs, a long chain (which engages
    pointer halving), a hub, and a node universe taken from the edges."""
    import random

    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        connected_components,
    )

    cases = []
    # seeded Erdős–Rényi-ish graphs at three densities
    for seed, n, m in ((1, 40, 25), (2, 60, 90), (3, 30, 140)):
        rng = random.Random(seed)
        edges = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        }
        cases.append(
            ([(f"n{a:03d}", f"n{b:03d}") for a, b in edges],
             [f"n{i:03d}" for i in range(n)])
        )
    # 50-link chain (diameter stress) + hub + two components
    cases.append(
        ([(f"c{i:02d}", f"c{i + 1:02d}") for i in range(50)],
         [f"c{i:02d}" for i in range(51)])
    )
    cases.append(
        ([("hub", f"s{i}") for i in range(12)] + [("q1", "q2")],
         None)
    )
    for edge_rows, node_rows in cases:
        edges = spark.createDataFrame(
            edge_rows, "node_a string, node_b string"
        )
        nodes = (
            spark.createDataFrame([(x,) for x in node_rows], "node string")
            if node_rows is not None
            else None
        )
        got = {
            r["node"]: r["cluster"]
            for r in connected_components(edges, nodes=nodes).collect()
        }
        assert got == _union_find_min_labels(edge_rows, node_rows)


def test_connected_components_empty_and_isolated(spark):
    """No edges: every node of the universe is its own cluster, with
    or without stats, and stats records zero rounds."""
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        connected_components,
    )

    edges = spark.createDataFrame([], "node_a string, node_b string")
    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    stats: dict = {}
    for kwargs in ({}, {"stats": stats}):
        got = {
            r["node"]: r["cluster"]
            for r in connected_components(
                edges, nodes=nodes, **kwargs
            ).collect()
        }
        assert got == {"a": "a", "b": "b"}
    assert stats == {
        "rounds": 0, "changed_per_round": [], "halving_from_round": None
    }


def test_connected_components_stats_do_not_change_the_plan(spark):
    """Passing stats only records counts the convergence check reads
    anyway: on the 40-link chain (plain and halving rounds) both calls
    start the same number of Spark jobs and return the same labels."""
    import time

    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        connected_components,
    )

    ids = [f"n{i:02d}" for i in range(40)]
    chain = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)],
        "node_a string, node_b string",
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def settled_job_count(group):
        # job-start events reach the status tracker asynchronously
        n, seen = -1, len(tracker.getJobIdsForGroup(group))
        while n != seen:
            time.sleep(0.5)
            n, seen = seen, len(tracker.getJobIdsForGroup(group))
        return n

    runs = {}
    for group, kwargs in (("cc-plain", {}), ("cc-stats", {"stats": {}})):
        sc.setJobGroup(group, group)
        try:
            labels = dict(connected_components(chain, **kwargs).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        runs[group] = (settled_job_count(group), labels)
    assert runs["cc-plain"] == runs["cc-stats"]
    assert runs["cc-plain"][1] == {n: ids[0] for n in ids}


def test_bfs_depths_chain_and_cycle(spark):
    """Chain 0-1-…-5 from root 0 gives depths 0..5; a 4-cycle gives the
    MIN-hop depth on both branches (1,1,2) — first visit pins it."""
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        bfs_depths,
    )

    chain = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(5)],
        "node_a string, node_b string",
    )
    roots = spark.createDataFrame([("0",)], "node string")
    got = {
        r["node"]: r["depth"] for r in bfs_depths(chain, roots).collect()
    }
    assert got == {str(i): i for i in range(6)}

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "node_a string, node_b string",
    )
    roots = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["depth"] for r in bfs_depths(cycle, roots).collect()
    }
    assert got == {"a": 0, "b": 1, "d": 1, "c": 2}


def test_bfs_depths_raises_past_max_rounds(spark):
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        bfs_depths,
    )
    import pytest

    chain = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(8)],
        "node_a string, node_b string",
    )
    roots = spark.createDataFrame([("0",)], "node string")
    with pytest.raises(RuntimeError, match="still expanding"):
        bfs_depths(chain, roots, max_rounds=3)


def test_progressive_curve_front_loads_matches(spark):
    """The min-block-size priority must beat uniform ordering: by the
    20% budget mark at least 1.5x the uniform share of matches is
    found; the curve is monotone and ends at 1.0."""
    from rosette_elasticsearch_plugin_spark.plans.driver_queries import (
        q_er_progressive,
    )

    rows = sorted(
        q_er_progressive(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    fracs = [r["matches_frac"] for r in rows]
    assert fracs == sorted(fracs)
    assert fracs[-1] == 1.0
    assert fracs[1] >= 0.3, f"20% budget found only {fracs[1]:.2f} of matches"


def test_bfs_depths_completes_at_exactly_max_rounds(spark):
    """A BFS finishing at depth == max_rounds is a SUCCESS (the depth
    cap matches the oracle's w.depth < cap); only a frontier still
    expanding past the cap raises."""
    from rosette_elasticsearch_plugin_spark.resolution.clustering import (
        bfs_depths,
    )

    chain = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(3)],
        "node_a string, node_b string",
    )
    roots = spark.createDataFrame([("0",)], "node string")
    got = {
        r["node"]: r["depth"]
        for r in bfs_depths(chain, roots, max_rounds=3).collect()
    }
    assert got == {"0": 0, "1": 1, "2": 2, "3": 3}
