"""Superstep driver for iterative operators, and the graph algorithms
that run on it.

A superstep is one synchronous round of an iterative DataFrame
algorithm (a PageRank power step, a BFS level, a label-propagation
round). Rounds are sequential stages, so their number, not the data
volume, is the cost at any scale ("Approximation Algorithms for Large
Scale Data Analysis", PODS 2021). The loop policy lives here and in
``session``: ``session.loop_confs`` scopes the confs of a loop,
``iterate`` truncates lineage through ``session.pin`` and tests
convergence.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_mini_spark import session
from etl_mini_spark.session import loop_confs


def iterate(state, step, *, max_iter: int, until=None, checkpoint_every: int = 1):
    """Run up to ``max_iter`` supersteps ``state = step(state)``.

    ``state`` is a DataFrame or a tuple. Every ``checkpoint_every``
    supersteps, and after the last one, each DataFrame in it that the
    step produced anew is pinned (``session.pin``); DataFrames carried
    over unchanged from the previous checkpoint and non-DataFrame
    elements stay as they are. ``until(prev, cur)`` runs only at
    checkpoints, with ``prev`` the state at the previous checkpoint
    (the initial state at the first); the loop stops as soon as it
    holds. If ``until`` is given and never holds, ``RuntimeError``.
    Returns the final state."""
    prev = state
    for i in range(1, max_iter + 1):
        state = step(state)
        if i % checkpoint_every and i < max_iter:
            continue
        state = _pin_new(state, prev)
        if until is not None and until(prev, state):
            return state
        prev = state
    if until is not None:
        raise RuntimeError(
            f"{step.__qualname__} did not converge in {max_iter} supersteps"
        )
    return state


def _pin_new(state, prev):
    old = prev if isinstance(prev, tuple) else (prev,)

    def fresh(x):
        return isinstance(x, DataFrame) and not any(x is o for o in old)

    if isinstance(state, tuple):
        return tuple(session.pin(x) if fresh(x) else x for x in state)
    return session.pin(state) if fresh(state) else state


def observed_count(df: DataFrame, cond=None):
    """``(df', obs)``: ``df`` plus an observation that counts its rows
    (those matching ``cond``) inside whichever job runs it — the pin of
    a superstep — so a convergence test reads ``obs.get["n"]``
    without another pass over the data."""
    obs = Observation()
    n = F.count(F.lit(1) if cond is None else F.when(cond, 1)).alias("n")
    return df.observe(obs, n), obs


def pagerank(
    edges: DataFrame, *, max_iter: int, tol: float | None = None,
    checkpoint_every: int | None = None,
) -> tuple[DataFrame, float]:
    """Power-iteration PageRank (d = 0.85) over directed ``(p, t)``
    edges in which every node has an in-edge (true of any symmetrized
    graph). Returns ``(ranks (p, pr), n_nodes)``.

    One shuffle per superstep: the inverse-degree edge list is built
    once, hash-partitioned on the source and persisted, so each step's
    join reuses that partitioning and the groupBy output is hash(p, N)
    again; the base term folds into the aggregate (every node has
    in-edges, so no left join with the node set is needed). With
    ``tol``, runs until the scaled L-inf change between checkpoints
    ``max|Δpr| · n`` drops below it; without, exactly ``max_iter``
    steps. ``checkpoint_every`` defaults to ``max_iter``."""
    with loop_confs(edges.sparkSession, 8):
        deg = edges.groupBy("p").agg((1.0 / F.count("*")).alias("invd"))
        ej = edges.join(deg, "p").repartition(8, "p").persist()
        try:
            n = float(deg.count())

            def step(pr):
                return ej.join(pr, "p").groupBy(F.col("t").alias("p")).agg(
                    (F.lit(0.15 / n) + F.lit(0.85) * F.sum(F.col("pr") * F.col("invd")))
                    .alias("pr")
                )

            def converged(prev, cur):
                delta = (
                    cur.alias("a").join(prev.alias("b"), "p")
                    .agg(F.max(F.abs(F.col("a.pr") - F.col("b.pr"))).alias("m"))
                    .first()["m"]
                )
                return delta * n < tol

            pr = iterate(
                deg.select("p", F.lit(1.0 / n).alias("pr")), step,
                max_iter=max_iter, until=converged if tol is not None else None,
                checkpoint_every=checkpoint_every or max_iter,
            )
        finally:
            ej.unpersist()
    return pr, n


def hits(edges: DataFrame, iters: int) -> tuple[DataFrame, DataFrame]:
    """HITS over a bipartite ``(s, p)`` edge list: ``iters`` rounds of
    hub → authority → hub, all state in BIGINT nanos (exact shuffled
    sums; one float op per L1 normalization, operands < 2^53). Returns
    ``(hubs (s, hs), authorities (p, asc_))``.

    Each half-round is one superstep — a keyed aggregate plus a 1-row
    total broadcast — and is pinned, so the other half reads a
    materialized frame: unpinned, the lazy plan re-evaluates the whole
    prefix per reference, exponentially."""

    def half(scores):  # hub scores -> authority scores, and back
        src, dst, out = ("s", "p", "asc_") if "s" in scores.columns else ("p", "s", "hs")
        raw = edges.join(scores, src).groupBy(dst).agg(
            F.sum(scores.columns[1]).cast("long").alias("raw")
        )
        tot = raw.agg(F.sum("raw").cast("long").alias("_tot"))
        return raw.join(F.broadcast(tot), F.lit(True)).select(
            dst,
            F.floor(
                F.col("raw").cast("double") / F.col("_tot").cast("double") * 1000000000
                + F.lit(0.5)
            ).cast("long").alias(out),
        )

    hubs = edges.select("s").distinct().withColumn("hs", F.lit(1000000000).cast("long"))
    # state = (newest side, previous side): each superstep refreshes
    # the side the newest one points at
    return iterate((hubs, None), lambda s: (half(s[0]), s[0]), max_iter=2 * iters)


def bfs_circulant(n: int, offsets) -> DataFrame:
    """Level-synchronous BFS from node 0 over the circulant graph on
    ``0..n-1`` with edges ``i ~ i ± o (mod n)`` for ``o`` in
    ``offsets``. Returns ``(i, d)``: every reached node with its
    distance from node 0.

    Each superstep expands the frontier arithmetically (explode of the
    mod-n neighbor expressions — no edge table) and anti-joins it with
    the previous two levels only: the graph is undirected, so a
    neighbor of level ``d`` lies in level ``d-1``, ``d`` or ``d+1``, and
    work per superstep is O(frontier), never O(visited). The emptiness
    test is observed inside the level's pin job and runs no job of its
    own. ``pmod``, not ``%``: with an offset above ``n`` the
    dividend goes negative and ``%`` would mint negative node ids."""
    spark = SparkSession.active()
    sizes = []
    neigh = [F.pmod(F.col("i") + o, F.lit(n)) for o in offsets] + [
        F.pmod(F.col("i") - o, F.lit(n)) for o in offsets
    ]

    def step(levels):
        seen = reduce(DataFrame.union, levels[-2:]).select("i")
        new, obs = observed_count(
            levels[-1].select(F.explode(F.array(*neigh)).alias("i")).distinct()
            .join(seen, "i", "left_anti")
            .withColumn("d", F.lit(len(levels)))
        )
        sizes.append(obs)
        return levels + (new,)

    root = spark.createDataFrame([(0, 0)], "i long, d int")
    # every superstep reaches a new node or is the last, so n bounds it
    levels = iterate(
        (root,), step, max_iter=n, until=lambda prev, cur: sizes[-1].get["n"] == 0
    )
    return reduce(DataFrame.union, levels)
