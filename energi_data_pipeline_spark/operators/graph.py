"""Iterative graph operators on DataFrames.

Connected components by min-label propagation: every vertex starts
labeled with itself; each round, a vertex takes the minimum label
among itself and its neighbors; fixpoint = components labeled by
their minimum member.  Rounds = graph diameter; each round is one
shuffle (join + min-aggregate).

This is the dedup endgame — near-dup PAIRS become dedup CLUSTERS by
transitive closure.  At 100 TB scale, diameter-bound propagation on
a skewed graph is improved by the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public literature); plain propagation is kept
here because near-dup graphs are shallow (chains of similar docs),
so the loop runs 2-4 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _truncate(df: DataFrame) -> DataFrame:
    """Eager lineage truncation for iterative loops.  When the
    session has a RELIABLE checkpoint dir configured, use
    ``checkpoint()`` — ``localCheckpoint`` stores blocks on
    executors WITHOUT lineage, so on a real cluster an executor
    loss makes the data unrecoverable and fails the job (r13
    ADVICE); a long-running 100 TB CC job must survive that.  In
    local mode (no dir configured, executors are the driver
    process) the cheaper localCheckpoint is equivalent.

    Storage note for cluster deployments (review r14): Spark keeps
    reliable checkpoint files until application exit unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    START-TIME conf) is set — a deep graph checkpoints every round,
    so without it a long CC job accumulates O(rounds x edge-set)
    files in the checkpoint store.  Set it on any session that
    configures a checkpoint dir for these loops; our own session
    factory does (session.py)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


#: distinct-edge count under which min-label propagation localizes
#: to a driver-side union-find instead of iterating distributed
#: rounds.  Rationale (r15): a near-dup pair graph is pairs ABOVE
#: the similarity threshold — tiny relative to the corpus at any
#: realistic dup density (sf0.1: 279 edges; x10: 2,805) — while
#: every distributed propagation round costs joins + aggregates +
#: a convergence action whose scheduling floor dwarfs the data work
#: on such graphs.  This is the same principle as AQE localizing a
#: small shuffle side: 100k edges collect to ~a few MB (well under
#: any driver heap the session could run on), union-find labels
#: them in milliseconds, and the result is EXACTLY the min-label
#: fixpoint (property-tested against the distributed loop).  Past
#: the limit the distributed loop runs unchanged — the 100 TB path
#: pays one extra COUNT on the checkpointed edge set, a rounding
#: error next to one propagation round.
CC_LOCAL_EDGE_LIMIT = 100_000


def _local_min_label(edge_rows) -> list:
    """Union-find (path compression; union-by-min is unnecessary —
    we relabel by component minimum afterwards) over collected edge
    tuples; returns rows [(id, min_member_id)] covering every vertex
    seen in the edge list (self-loop-only vertices included)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    best: dict = {}
    for x in parent:
        r = find(x)
        m = best.get(r)
        if m is None or x < m:
            best[r] = x
    return [(x, best[find(x)]) for x in parent]


def _local_labels_df(pairs: DataFrame, col: str, edge_rows):
    """Driver-side union-find labels as a BROADCAST-HINTED local
    DataFrame ``(id, cluster_id)`` typed like ``pairs[col]``, a
    vertex column after ``src`` and ``dst`` are coerced to their
    common type — the type the distributed path labels with.  The
    hint matters for composed consumers (r15 verdict): the label
    table is bounded by the localization gate (a few MB),
    but without the hint AQE re-plans every label join from size
    estimates — ``curation_cluster_representatives`` paid 12
    exchanges re-joining labels the driver already holds.  The hint
    is inert when the labels ARE the final result."""
    from pyspark.sql import types as T

    id_type = pairs.schema[col].dataType
    schema = T.StructType([
        T.StructField("id", id_type),
        T.StructField("cluster_id", id_type)])
    local_labels = pairs.sparkSession.createDataFrame(
        _local_min_label(edge_rows), schema)
    return F.broadcast(local_labels)


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 25,
                         local_limit: int = CC_LOCAL_EDGE_LIMIT
                         ) -> DataFrame:
    """``(id, cluster_id)`` for every vertex of the edge list;
    cluster_id = the component's minimum vertex id.

    Two physical strategies behind one contract (see
    CC_LOCAL_EDGE_LIMIT): a graph whose DISTINCT edge count is under
    ``local_limit`` collects to the driver and labels via union-find
    (the small-side localization a near-dup graph almost always
    qualifies for); larger graphs run the distributed min-label
    propagation — per round one equi-join on the vertex id + one
    min-aggregate, convergence proven by monotone label sums,
    lineage truncated per round.
    """
    from pyspark.sql import types as T

    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .union(edges.select(F.col(dst).alias("u"),
                               F.col(src).alias("v"))))
    # materialize the symmetrized edge list ONCE (r13): every
    # propagation round's action lineage otherwise re-executes the
    # whole upstream pair pipeline (labels is cached, sym is not).
    # The r14 interleaved HEAD-vs-r12 A/B (docs/scale_r14/ab_cc.json:
    # 4 cycles, fresh JVM per child, order flipped per cycle) shows
    # the checkpoint is a real CROSS-SESSION win on the composed
    # consumers — dedup_connected_components 2.36s vs 4.81s min,
    # dedup_cluster_keep_best 2.67s vs 4.94s — because a fresh
    # session has no exchange files to reuse and the r12 shape pays
    # the pair pipeline once per propagation round.  (The earlier
    # same-session on/off A/B read neutral precisely because shuffle
    # reuse had warmed.)  Materialization is bounded at 2x the edge
    # count.
    sym = _truncate(sym)

    # small-graph localization: one count on the checkpointed edge
    # set decides the strategy (see CC_LOCAL_EDGE_LIMIT).  sym holds
    # both directions, so the distinct-edge bound is n_sym/2; the
    # count is exact and the collect is bounded by local_limit rows.
    if local_limit and sym.count() <= 2 * local_limit:
        return _local_labels_df(
            sym, "u", ((r["u"], r["v"]) for r in sym.collect()))

    labels = (sym.select(F.col("u").alias("id")).distinct()
              .withColumn("label", F.col("id"))).cache()

    _lt = labels.schema["label"].dataType
    # integral types only: a DECIMAL with nonzero scale would be
    # ROUNDED by the cast('decimal(38,0)') below, so two rounds whose
    # labels still decrease fractionally (5.4 -> 5.2) could produce
    # equal sums and falsely prove convergence (r14 ADVICE) —
    # fractional-decimal ids take the type-agnostic changed-count
    # path instead.
    numeric_labels = (
        isinstance(_lt, (T.ByteType, T.ShortType, T.IntegerType,
                         T.LongType))
        or (isinstance(_lt, T.DecimalType) and _lt.scale == 0))

    def _label_sum(df: DataFrame):
        # exact DECIMAL(38,0) sum: overflow-free for any realistic
        # id space, and bit-exact so sum-equality is a proof.
        # Numeric ids ONLY — a string id would cast to NULL (ANSI
        # off) and every round's sum would read None, silently
        # "converging" after round 1 (review r14); non-numeric ids
        # take the type-agnostic changed-count path below.
        s = df.agg(F.sum(F.col("label").cast("decimal(38,0)"))
                   ).first()[0]
        if s is None and not df.isEmpty():
            raise AssertionError(
                "label sum is NULL on a non-empty frame — numeric "
                "label cast produced NULLs; convergence proof is "
                "invalid for this id type")
        return s

    def _changed_count(new: DataFrame, old: DataFrame) -> int:
        # type-agnostic fixpoint check for non-numeric ids: one
        # join + count of changed labels (also populates new's
        # cache, like the sum action does)
        return (new.alias("n").join(old.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count())

    # convergence via MONOTONE label sums (r14): each round's label
    # is min(own, neighbors') with the old label in the union, so
    # per-id labels never increase — the total sum strictly
    # decreases until fixpoint, and sum-equality <=> zero changed
    # labels.  The per-round action becomes a partial-aggregable
    # sum on the new labels instead of a join of new-vs-old + count
    # (the old action also populated the cache, but paid a second
    # build/broadcast of the old labels every round).  Interleaved
    # A/B vs the pre-change tree (docs/scale_r14/ab_convergence.
    # json, duck spread 1.145): 0.905x min / consumers ~0.92x.
    prev_sum = _label_sum(labels) if numeric_labels else None
    if not numeric_labels:
        labels.count()  # populate the cache (the sum action would)
    converged = False
    for _ in range(max_iter):
        neigh = (sym.join(labels, sym.v == labels.id)
                 .select(F.col("u").alias("id"), "label"))
        new_labels = (
            labels.select("id", "label").union(neigh)
            .groupBy("id").agg(F.min("label").alias("label"))).cache()
        if numeric_labels:
            cur_sum = _label_sum(new_labels)
            done = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            done = _changed_count(new_labels, labels) == 0
        labels.unpersist()
        labels = new_labels
        if done:
            converged = True
            break
    if not converged:
        # partially-propagated labels are silently WRONG clusterings;
        # refuse to return them (diameter > max_iter — raise the cap
        # or switch to large-star/small-star for deep graphs)
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"iterations (label sum still decreasing)")
    return labels.select("id", F.col("label").alias("cluster_id"))


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (hi, lo), deduped."""
    return (e.select(F.greatest("a", "b").alias("a"),
                     F.least("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b")).distinct())


def _large_star(sym: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's minimum
    neighborhood label (Kiveris et al. SoCC'14, public literature)."""
    mins = (sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b")))


def _small_star(sym: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to
    the minimum of that neighborhood."""
    le = sym.filter(F.col("v") < F.col("u"))
    mins = le.groupBy("u").agg(F.min("v").alias("mn"))
    out1 = (le.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("mn").alias("b")))
    out2 = mins.select(F.col("u").alias("a"), F.col("mn").alias("b"))
    return out1.union(out2)


def connected_components_star(edges: DataFrame, src: str, dst: str,
                              max_iter: int = 50,
                              stats: dict | None = None,
                              local_limit: int = CC_LOCAL_EDGE_LIMIT
                              ) -> DataFrame:
    """``(id, cluster_id)`` by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log^2 n) rounds regardless of diameter,
    where min-label propagation needs diameter rounds — this is the
    scale path for deep or skewed graphs (long similarity chains),
    while :func:`connected_components` stays the cheaper choice for
    the shallow near-dup graphs dedup usually produces.

    Both star steps are one groupBy + one self-join per round —
    shuffle keyed on the vertex id; high-degree vertices flatten
    INTO stars instead of becoming stragglers (that is the point of
    the algorithm).  Returns the same labeling as
    :func:`connected_components` (property-tested equal).

    Each round is lineage-truncated (reliable ``checkpoint()`` when
    a checkpoint dir is configured, else ``localCheckpoint`` — see
    :func:`_truncate`): ``cache()`` caps recompute but NOT the
    analyzed plan, and this loop references the previous round four
    times (two star sides + the convergence check), so the plan tree
    doubles per round — AQE's plan-string rendering alone OOMs the
    driver by round ~8 without the checkpoint (measured)."""
    e0 = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .filter(F.col(src).isNotNull() & F.col(dst).isNotNull()))
    # ONE truncated base feeds both the canonical edge set and the
    # vertex list (r16): the old shape checkpointed verts and cur
    # separately, executing the whole upstream pair pipeline TWICE
    # and materializing two tables — base keeps canonicalized
    # self-loop rows so vertices seen only in self-loops still
    # survive as singleton clusters, cur is a cheap filter over the
    # checkpointed rows, verts a distinct over the same.
    base = _truncate(
        e0.select(F.greatest("a", "b").alias("a"),
                  F.least("a", "b").alias("b")).distinct())
    verts = (base.select(F.col("a").alias("id"))
             .union(base.select(F.col("b").alias("id"))).distinct())
    cur = base.filter(F.col("a") != F.col("b"))
    n_cur = cur.count()
    if stats is not None:
        stats.update(rounds=0, edges_initial=n_cur)
    if n_cur == 0:
        return verts.withColumn("cluster_id", F.col("id"))
    # small-graph localization (r15 verdict #2 — same gate, contract
    # and rationale as connected_components): the canonical edge set
    # is already counted, so a graph under the limit collects
    # (bounded) and labels via driver-side union-find instead of
    # paying 2+ star rounds of groupBy + self-join + convergence
    # actions whose scheduling floor dwarfs the data work.  The
    # union-find fixpoint IS the min-label fixpoint both star and
    # propagation converge to (property-tested against both paths);
    # self-loop-only vertices are restored from `verts` exactly like
    # the distributed epilogue below.  Past the limit the star loop
    # runs unchanged — at 100 TB the gate costs nothing (the count
    # already existed).
    if local_limit and n_cur <= local_limit:
        children = _local_labels_df(
            cur, "a", ((r["a"], r["b"]) for r in cur.collect()))
        selves = (verts.join(children.select("id"), "id", "left_anti")
                  .withColumn("cluster_id", F.col("id")))
        return children.union(selves)
    for _round in range(max_iter):
        sym = (cur.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .union(cur.select(F.col("b").alias("u"),
                                 F.col("a").alias("v"))))
        after_large = _canon(_large_star(sym))
        sym2 = (after_large
                .select(F.col("a").alias("u"), F.col("b").alias("v"))
                .union(after_large.select(F.col("a").alias("v"),
                                          F.col("b").alias("u"))
                       .select("u", "v")))
        nxt = _truncate(_canon(_small_star(sym2)))
        # both sides are DISTINCT canonical edge sets, so set
        # equality <=> same cardinality AND empty one-sided
        # difference: one count on checkpointed data + one
        # existence-probe anti-join, replacing the two exceptAll
        # set-difference jobs per round (r14)
        n_nxt = nxt.count()
        changed = (n_nxt != n_cur
                   or nxt.join(cur, ["a", "b"], "left_anti")
                   .limit(1).count() > 0)
        cur, n_cur = nxt, n_nxt
        if stats is not None:
            stats.update(rounds=_round + 1, edges_final=n_cur)
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iter} rounds")
    # fixpoint: every edge is (member, root); every other original
    # vertex (roots, self-loop-only singletons) labels itself
    children = cur.select(F.col("a").alias("id"),
                          F.col("b").alias("cluster_id"))
    selves = (verts.join(children.select("id"), "id", "left_anti")
              .withColumn("cluster_id", F.col("id")))
    return children.union(selves)
