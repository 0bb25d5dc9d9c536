"""ForceAtlas2-derived graph layout as DataFrame iterations.

The reference's layout engine (src/fermor/force_atlas.clj:37-192) runs
repulsion (local, within radius), strong gravity, and weighted edge
attraction over mutable per-vertex documents with a ForkJoin fold. The
Spark-native shape is message passing: each force source produces
(id, fx, fy) message rows, one groupBy sums them, positions are
recomputed columns (mutable docs → recompute-and-replace, SURVEY §7).

Repulsion is grid-bucketed (cell + 8 neighbors within `radius`), the
scale-safe approximation of the reference's local-repulsion mode — O(V²)
all-pairs repulsion does not survive 100×.

`force_atlas` runs its steps on `iterate._fixpoint`, the round driver of
every iterative operator: one lazy checkpoint and one probe job per step,
the probe carrying the swinging/traction sums that set the next step's
speed. `force_atlas_step` is one fixed-speed step for callers that drive
their own loop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fermor_spark.graph import PropertyGraph
from fermor_spark.iterate import _fixpoint, _record


def init_positions(g: PropertyGraph, seed: int = 42) -> DataFrame:
    """(id, x, y) deterministic pseudo-random initial layout."""
    ids = g.vertex_ids()
    hx = F.xxhash64(F.col("id"), F.lit(seed))
    hy = F.xxhash64(F.col("id"), F.lit(seed + 1))
    return ids.select(
        "id",
        ((hx % 2000) / 100.0).alias("x"),
        ((hy % 2000) / 100.0).alias("y"),
    )


def _force_messages(
    g: PropertyGraph,
    pos: DataFrame,
    labels,
    gravity: float,
    repulsion: float,
    attraction: float,
    weight_influence: float,
    radius: float,
) -> DataFrame:
    """Summed force messages → (id, fx, fy). Three message sources
    (attraction along edges, grid-local repulsion, gravity) → one
    groupBy-sum."""

    # --- attraction along edges (weight^influence), both directions
    e = g._edges_df(labels).select(
        "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
    )
    pa = pos.select(F.col("id").alias("src"), F.col("x").alias("sx"), F.col("y").alias("sy"))
    pb = pos.select(F.col("id").alias("dst"), F.col("x").alias("dx_"), F.col("y").alias("dy_"))
    ew = e.join(pa, "src").join(pb, "dst").withColumn(
        "k", F.pow(F.col("w"), F.lit(weight_influence)) * attraction
    )
    attr = ew.select(
        F.col("src").alias("id"),
        (F.col("k") * (F.col("dx_") - F.col("sx"))).alias("fx"),
        (F.col("k") * (F.col("dy_") - F.col("sy"))).alias("fy"),
    ).unionByName(
        ew.select(
            F.col("dst").alias("id"),
            (F.col("k") * (F.col("sx") - F.col("dx_"))).alias("fx"),
            (F.col("k") * (F.col("sy") - F.col("dy_"))).alias("fy"),
        )
    )

    # --- grid-bucketed local repulsion (cells of size `radius`; each vertex
    # replicated into its 3×3 cell neighborhood on one side of the join)
    cell = pos.select(
        "id", "x", "y",
        F.floor(F.col("x") / radius).cast("long").alias("cx"),
        F.floor(F.col("y") / radius).cast("long").alias("cy"),
    )
    # ONE array-explode replication into the 3×3 neighborhood, not a
    # union of 9 per-offset selects (each re-evaluating the position
    # lineage once per offset per iteration — the banding recompute trap)
    offsets = [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)]
    replicated = cell.select(
        F.col("id").alias("oid"), F.col("x").alias("ox"), F.col("y").alias("oy"),
        F.explode(F.array(*[
            F.struct((F.col("cx") + i).alias("cx"), (F.col("cy") + j).alias("cy"))
            for i, j in offsets
        ])).alias("nb"),
    ).select("oid", "ox", "oy",
             F.col("nb.cx").alias("cx"), F.col("nb.cy").alias("cy"))
    pairs = cell.join(replicated, ["cx", "cy"]).where(F.col("id") != F.col("oid"))
    d2 = (F.col("x") - F.col("ox")) ** 2 + (F.col("y") - F.col("oy")) ** 2
    rep = pairs.withColumn("d2", F.greatest(d2, F.lit(0.01))).where(
        F.col("d2") <= radius * radius
    ).select(
        "id",
        (repulsion * (F.col("x") - F.col("ox")) / F.col("d2")).alias("fx"),
        (repulsion * (F.col("y") - F.col("oy")) / F.col("d2")).alias("fy"),
    )

    # --- strong gravity toward the origin
    grav = pos.select(
        "id", (-gravity * F.col("x")).alias("fx"), (-gravity * F.col("y")).alias("fy")
    )

    return attr.unionByName(rep).unionByName(grav).groupBy("id").agg(
        F.sum("fx").alias("fx"), F.sum("fy").alias("fy")
    )


def force_atlas_step(
    g: PropertyGraph,
    positions: DataFrame,
    labels=None,
    gravity: float = 0.05,
    repulsion: float = 1.0,
    attraction: float = 0.2,
    weight_influence: float = 1.0,
    radius: float = 40.0,
    speed: float = 0.1,
) -> DataFrame:
    """One constant-speed simulation step → new (id, x, y).

    The step reads ``positions`` several times (edge ends, grid cells,
    gravity, the update join), so a caller that iterates it truncates the
    lineage every step (a ``localCheckpoint``, as ``iterate._fixpoint``
    does); un-truncated, the plan multiplies per step. ``force_atlas``
    below is the variable-speed loop.
    """
    pos = positions.select("id", "x", "y")
    forces = _force_messages(
        g, pos, labels, gravity, repulsion, attraction, weight_influence, radius
    )
    return (
        pos.join(forces, "id", "left")
        .select(
            "id",
            (F.col("x") + speed * F.coalesce(F.col("fx"), F.lit(0.0))).alias("x"),
            (F.col("y") + speed * F.coalesce(F.col("fy"), F.lit(0.0))).alias("y"),
        )
    )


def force_atlas(g: PropertyGraph, iterations: int = 50, labels=None,
                seed: int = 42, jitter_tolerance: float = 0.02,
                **params) -> DataFrame:
    """Run the layout to `iterations` steps → final (id, x, y).

    Reproduces the reference's swinging/traction speed adaptation
    (src/fermor/force_atlas.clj:37-42, 104-119) in message-passing form.
    Per step, with v = this step's force-accumulated velocity and p = the
    previous step's (undamped) velocity:

      swinging = Σ |p − v|          (oscillation: direction reversals)
      traction = Σ ½|p + v|         (coherent motion)

    The global speed chases `jitter_tolerance · efficiency · traction /
    swinging` with the reference's guard rails (halve efficiency when
    swinging/traction > 2, damp 0.7 on chaos, cap the per-step rise at
    50%), each vertex applies `speed / (1 + √(speed·|p−v|))` — swinging
    vertices slow down individually — and velocity carries over with
    friction `clamp(1 − 0.05·traction/V^1.8, 0.2, 0.95)` (mass simplified
    to 1; the reference's degree-derived mass is a documented delta).

    The steps run on ``iterate._fixpoint`` (record ``force_atlas``). The
    round state is the pre-update frame (positions plus this step's
    velocity); the round's one job checkpoints it and returns the probe
    (Σ swinging, Σ traction, V). The driver derives speed and friction
    from it, and the next step applies that update lazily before its force
    messages; the last update is applied after the last round. The
    per-step checkpoint is what keeps the lineage flat: a step reads the
    state several times, so the plan would otherwise multiply per step —
    800-iteration runs (the reference's UI workload) depend on it.
    ``params`` are `_force_messages`' force constants.
    """
    force = {k: params.get(k, d) for k, d in (
        ("gravity", 0.05), ("repulsion", 1.0), ("attraction", 0.2),
        ("weight_influence", 1.0), ("radius", 40.0))}
    swg_v = F.sqrt((F.col("pvx") - F.col("nvx")) ** 2 + (F.col("pvy") - F.col("nvy")) ** 2)
    tra_v = F.sqrt((F.col("pvx") + F.col("nvx")) ** 2 + (F.col("pvy") + F.col("nvy")) ** 2) * 0.5

    def update(cur: DataFrame) -> DataFrame:
        # the driver's last speed and friction, applied to a pre-update frame
        factor = speed / (1.0 + F.sqrt(F.lit(speed) * swg_v))
        return cur.select(
            "id",
            (F.col("x") + F.col("nvx") * factor).alias("x"),
            (F.col("y") + F.col("nvy") * factor).alias("y"),
            (F.col("nvx") * friction).alias("vx"),
            (F.col("nvy") * friction).alias("vy"),
            F.col("nvx").alias("pvx"),
            F.col("nvy").alias("pvy"),
        )

    def step(cur: DataFrame, _: int) -> DataFrame:
        state = update(cur)
        forces = _force_messages(g, state.select("id", "x", "y"), labels,
                                 **force)
        return state.join(forces, "id", "left").select(
            "id", "x", "y", "pvx", "pvy",
            (F.col("vx") + F.coalesce(F.col("fx"), F.lit(0.0))).alias("nvx"),
            (F.col("vy") + F.coalesce(F.col("fy"), F.lit(0.0))).alias("nvy"),
        )

    # all-zero velocities: update() of this frame is the initial layout
    cur = init_positions(g, seed).select(
        "id", "x", "y", *[F.lit(0.0).alias(c) for c in ("pvx", "pvy", "nvx", "nvy")])
    speed, speed_efficiency, friction = 1.0, 1.0, 1.0
    probe = (F.sum(swg_v), F.sum(tra_v), F.count(F.lit(1)))
    for cur, (s, t, n) in _fixpoint(_record("force_atlas"), cur, step,
                                    iterations, probe=probe):
        swinging = float(s or 0.0) + 1e-12
        traction = float(t or 0.0) + 1e-12
        vc = max(n, 1)
        # reference tuning loop (force_atlas.clj:104-119)
        chaos_threshold = jitter_tolerance * min(
            10.0, 0.05 * math.sqrt(vc) * traction / (vc * vc)
        )
        if swinging / traction > 2.0:
            if speed_efficiency > 0.05:
                speed_efficiency *= 0.5
            chaos_threshold = max(chaos_threshold, jitter_tolerance)
        target_speed = chaos_threshold * speed_efficiency * traction / swinging
        if swinging > chaos_threshold * traction:
            if speed_efficiency > 0.05:
                speed_efficiency *= 0.7
        elif speed < 1000:
            speed_efficiency *= 1.3
        speed = speed + min(target_speed - speed, 0.5 * speed)
        friction = min(0.95, max(0.2, 1 - 0.05 * traction / (vc ** 1.8)))
    return update(cur).select("id", "x", "y")
