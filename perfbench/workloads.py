"""The benchmark's workloads: query keys, input sizes and query order."""
import random

# One RAM project run, cut to what a benchmark run can afford: the whole
# accessibility pass (grid cells, clipped work areas, origins in area,
# buffered POI search, row-min ETA + walk leg) and the routed
# door-to-door ETA (walk leg to the nearest road access point, then a
# bounded-hop Bellman-Ford whose rounds run as eager jobs over pinned
# frontiers, so the fixpoint and pinning layers are measured), whose
# result the export step writes. Two keys, because a key run right after
# geo_route_door reads about a third slower: with two keys every pair of
# passes (an order and its reverse) runs pipeline_ram_e2e once after it
# and once not, whatever the seed; with a third key that share depended on
# the seed and the pooled median's spread over ten seeds rose to 0.28.
RAM_KEYS = ["pipeline_ram_e2e", "geo_route_door"]

# sf: scale factor of every table; origin_factor: copies of `customer`
# (the origins) only.
WORKLOADS = {
    "ram_project": {"sf": 0.1, "origin_factor": 1},
    "ram_scaled": {"sf": 0.1, "origin_factor": 2},
}

MAX_PASSES = 200


def pass_plan(keys, seed, trace, warmup, passes=MAX_PASSES):
    """(order, traced) of each pass, the `warmup` untimed passes first.

    Untraced runs pair their timed passes: a fresh seeded permutation of
    `keys`, then its reverse, so a key's latency in a run does not hang on
    which key ran before it in one order. Traced runs repeat one seeded
    order and alternate untraced and traced passes (U, T, U, T, U, ...),
    so each traced pass has an untraced pass of the same order on both
    sides to measure the tracing overhead against."""
    rng = random.Random(seed)
    out = [(rng.sample(keys, len(keys)), False) for _ in range(warmup)]
    if trace:
        order = rng.sample(keys, len(keys))
        out += [(order, i % 2 == 1) for i in range(passes - warmup)]
    while len(out) < passes:
        p = rng.sample(keys, len(keys))
        out += [(p, False), (p[::-1], False)]
    return out[:passes]


def input_name(w, seed):
    """Input directory name: the seed only reaches the generator when the
    origins are scaled, so unscaled workloads share one directory."""
    base = f"sf{w['sf']}"
    return base if w["origin_factor"] == 1 else f"{base}_x{w['origin_factor']}_seed{seed}"
