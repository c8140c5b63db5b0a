"""Strongly connected components — the directed complement of cc.py
(Verum's context graphs are directed; cycles of enrichment references are
exactly the structures an analyst wants collapsed before scoring).

Coloring algorithm (Orzan 2004, "A distributed algorithm for strong
connectivity"; the same decomposition underlies FW-BW-Trim, Fleischer et
al. 2000 — public knowledge):

  repeat until every vertex is assigned:
    1. TRIM  — peel vertices with in-degree 0 or out-degree 0 within the
       unassigned subgraph (each is a singleton SCC); repeat to fixpoint.
       Real link graphs are mostly DAG, so trimming alone usually
       assigns the bulk of the graph in a handful of rounds.
    2. COLOR — propagate color(v) = max(own vid, colors of in-neighbors)
       along edge direction to fixpoint: color(v) = the largest vid that
       can reach v. Vertices with color(v) == v are roots.
    3. CAPTURE — the SCC of root r is every vertex of color r that can
       REACH r: a backward BFS from all roots at once, restricted to
       same-color edges (one frontier DataFrame for every root — the
       per-color searches share each Spark job). Assign, remove, loop.

Every step is joins/aggregates over (src, dst) + an O(V_unassigned) state
— no per-root sequential work, no Python in the loop. Worst case (one
long chain of 2-cycles) needs O(#SCCs) outer rounds like every
label-propagation SCC; the trim step is what makes real corpora cheap.

Oracle: ``networkx.strongly_connected_components`` exact, with the
canonical label = min member vid (tests/test_scc.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.loop import iterative_conf, release, step


@dataclass
class SCCResult:
    labels: DataFrame  # (vid, label) — label = min vid of the component
    outer_rounds: int
    converged: bool  # False => PARTIAL: labels cover only the vertices
    #                  assigned before an inner fixpoint hit max_inner;
    #                  every emitted label is still correct


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 200,
) -> SCCResult:
    with iterative_conf(spark):
        return _scc_loop(spark, edges, vertices, max_outer, max_inner)


def _scc_loop(spark, edges, vertices, max_outer, max_inner):
    count = F.count(F.lit(1))
    e, _ = step(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select("vid")).distinct()
    live_v, live = step(verts, n=count)  # unassigned vertices
    live_e = e                      # edges among unassigned vertices
    assigned = None                 # (vid, label) accumulated across rounds

    def add(labels):
        """Fold a materialized (vid, label) frame into ``assigned``."""
        nonlocal assigned
        if assigned is None:
            assigned = labels
        else:
            prev = assigned
            assigned, _ = step(prev.unionByName(labels))
            release(prev, labels)

    def restrict(keep):
        """(live_v, live_e, live) narrowed to the ``keep`` vertices."""
        new_v, n = step(keep, n=count)
        new_e, _ = step(
            live_e.join(new_v.select(F.col("vid").alias("src")), "src", "semi")
            .join(new_v.select(F.col("vid").alias("dst")), "dst", "semi")
        )
        release(live_v, live_e)
        return new_v, new_e, n

    converged = False
    outer = 0
    for outer in range(1, max_outer + 1):
        if live["n"] == 0:
            converged = True
            break

        # 1. TRIM to fixpoint: in/out-degree-0 vertices are their own SCC
        # (min-vid canonical label = the vid itself).
        trim_done = False
        for _ in range(max_inner):
            srcs = live_e.select(F.col("src").alias("vid")).distinct()
            dsts = live_e.select(F.col("dst").alias("vid")).distinct()
            both = srcs.join(dsts, "vid", "semi")
            trimmed, t = step(
                live_v.join(both, "vid", "anti")
                .select("vid", F.col("vid").alias("label")),
                n=count,
            )
            if t["n"] == 0:
                release(trimmed)
                trim_done = True
                break
            add(trimmed)
            live_v, live_e, live = restrict(live_v.join(both, "vid", "semi"))
        if live["n"] == 0:
            converged = True
            break
        if not trim_done:
            # exhausted without a trim fixpoint: labeling from a partial
            # trim is still CORRECT (only fully-trimmed singletons were
            # assigned), but report non-convergence and stop rather than
            # risk a stale-color capture below
            break

        # 2. COLOR: forward max-propagation to fixpoint. An unconverged
        # coloring would produce FALSE roots (vertices that merely never
        # saw the true max) and silently wrong components, so exhaustion
        # aborts the round with converged=False instead of capturing.
        # ``grew`` flags the rows a round raised; their count, observed on
        # the state's own materialization, is the fixpoint test.
        color, _ = step(live_v.select("vid", F.col("vid").alias("color")))
        color_done = False
        for _ in range(max_inner):
            pushed = (
                live_e.join(
                    color.select(F.col("vid").alias("src"), "color"), "src"
                )
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.max("color").alias("pc"))
            )
            new_color, c = step(
                color.join(pushed, "vid", "left").select(
                    "vid",
                    F.greatest("color", F.coalesce("pc", F.lit(-1))).alias("color"),
                    (F.col("pc") > F.col("color")).alias("grew"),
                ),
                changed=F.count_if("grew"),
            )
            release(color)
            color = new_color
            if c["changed"] == 0:
                color_done = True
                break

        if not color_done:
            release(color)
            break

        # 3. CAPTURE: backward BFS from every root inside its color class.
        # member(vid, root): vid is in the SCC of `root`.
        roots = color.filter("vid = color").select(F.col("vid").alias("root"))
        member, _ = step(roots.select(F.col("root").alias("vid"), "root"))
        # same-color edge list, reversed (we walk towards the root's
        # predecessors), built once per outer round
        ce = (
            live_e.join(color.select(F.col("vid").alias("src"), F.col("color").alias("cs")), "src")
            .join(color.select(F.col("vid").alias("dst"), F.col("color").alias("cd")), "dst")
            .filter("cs = cd")
            .select(F.col("dst").alias("u"), F.col("src").alias("v"), F.col("cs").alias("color"))
            .localCheckpoint(eager=True)
        )
        frontier = member
        capture_done = False
        for _ in range(max_inner):
            found, f = step(
                ce.join(frontier.select(F.col("vid").alias("u"), "root"), "u")
                .filter(F.col("color") == F.col("root"))
                .select(F.col("v").alias("vid"), "root")
                .distinct()
                .join(member, ["vid", "root"], "anti"),
                n=count,
            )
            if f["n"] == 0:
                capture_done = True
                release(found)
                break
            new_member, _ = step(member.unionByName(found))
            release(member)
            if frontier is not member:
                release(frontier)
            member, frontier = new_member, found
        if frontier is not member:
            release(frontier)

        if not capture_done:
            release(member, ce, color)
            break

        # canonical label = min vid of the component (root vid is the MAX
        # by construction of the coloring)
        scc_labels, _ = step(
            member.groupBy("root").agg(F.min("vid").alias("label"))
            .join(member, "root")
            .select("vid", "label")
        )
        add(scc_labels)
        captured = member.select("vid")
        live_v, live_e, live = restrict(live_v.join(captured, "vid", "anti"))
        release(member, ce, color)

    out = assigned if assigned is not None else verts.select(
        "vid", F.col("vid").alias("label")
    ).limit(0)
    release(live_v, live_e)
    return SCCResult(out, outer, converged)
