"""Query pools of the benchmark's workloads and the seeded op order.

Every run runs every query of its workload's pool: the warm-up pass once
each, then the timed loop in whole passes, each pass in its own order
drawn from the seed. The seed changes the order and nothing else, so two
seeds measure the same work and their spread is the benchmark's own noise.

No query appears in two pools. Each pool has an odd number of queries, so
the median op is one query's, not the gap between two.
"""
import random

WORKLOADS = {
    # loop-free Cypher parity queries at sf0.1: scan, join, multi-hop
    # aggregate, OPTIONAL MATCH, top-k, UNION, WITH/HAVING, count DISTINCT,
    # dates, $params, bounded var-length, EXISTS, CALL and COUNT
    # subqueries, SET and CREATE snapshots. Fixed-cost bound: parse,
    # compile, Catalyst and the per-job floor make up most of each op.
    "cypher_interactive": {"sf": 0.1, "passes": 2, "queries": [
        "q01_node_scan", "q02_join_filter", "q03_multihop_agg",
        "q04_optional_match", "q05_lineitem_agg", "q08_topk", "q10_union",
        "q12_with_having", "q18_count_distinct", "q22_dates", "q28_params",
        "q30_varlen_hops", "q34_exists_semi", "q41_call_subquery",
        "q48_count_subquery", "q63_set_snapshot", "q69_create_snapshot",
    ]},
    # ops that run Spark jobs while they are built: the distributed reach
    # twins, a GraphOps shortest-path fixpoint loop, a k-means loop, a
    # streaming replay and a persisted-index build. Their cost is per loop
    # round and per job, not per row, so sf0.001 keeps them job-bound. One
    # timed pass keeps a run within the full check's time budget; a second
    # pass did not narrow the seed-to-seed spread.
    "iterative": {"sf": 0.001, "passes": 1, "queries": [
        "q187_dist_unbounded_witness", "q188_dist_hetero_klevel_witness",
        "q189_dist_allshortest_witness", "g28_sssp_routes", "s22_kmeans",
        "e50_stream_sessionize", "s34_ivf_persisted",
    ]},
}


def warmup_order(workload, seed):
    """The pool in the seed's order for the warm-up pass."""
    names = list(WORKLOADS[workload]["queries"])
    random.Random(f"warmup:{workload}:{seed}").shuffle(names)
    return names


def sequence(workload, seed):
    """The workload's timed passes over the pool, each in its own seeded
    order. The pass count is the only rule for how long a run measures, so
    a run's shape does not change with the machine's speed."""
    rng = random.Random(f"order:{workload}:{seed}")
    out = []
    for _ in range(WORKLOADS[workload]["passes"]):
        p = list(WORKLOADS[workload]["queries"])
        rng.shuffle(p)
        out += p
    return out
