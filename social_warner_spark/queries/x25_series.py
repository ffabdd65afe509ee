"""x25 series — round-3 widening batch (x307–x311): community-quality
evaluation (modularity), topological core structure (rich club),
population-stability monitoring (PSI), likelihood-ratio independence
(G-test), and spectral health (eigen-gap via deflated power
iteration).

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x307 evaluates the EXACT x239 LPA partition (the x256/x269
audit-pairing discipline); x311 extends x185's relational power
iteration with Hotelling deflation — the Gram matrix is never
materialized in either phase.

Literature grounding (public):
- Newman & Girvan (Phys. Rev. E 2004) — modularity.
- Zhou & Mondragón (IEEE Comm. Lett. 2004) — rich-club coefficient.
- The population stability index: standard credit-scoring practice
  (e.g. Siddiqi, "Credit risk scorecards", Wiley 2006).
- Sokal & Rohlf, "Biometry" — the G (log-likelihood ratio) test.
- Hotelling (1943) — matrix deflation for successive eigenpairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x14_series import LPA_ITERS

#: x308 — degree thresholds probed for rich-club density.
RC_KS = (5, 10, 20, 40)
#: x309 — PSI bins (reference deciles) and the standard decision bands.
PSI_BINS = 10
PSI_MODERATE = 0.1
PSI_SHIFTED = 0.25
#: x311 — embedding dimensionality and per-phase power rounds
#: (matching x185's round count).
EG_DIM = 64
EG_ROUNDS = 5


def _lpa_graph(spark, sf_dir):
    from social_warner_spark.caching import materialize

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    cust = T(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2).alias("node")
    )
    supp = T(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    nodes = cust.unionAll(supp)
    # e0 feeds both edge directions, the label joins and the edge count
    e0 = materialize(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return nodes, e0, edges


def x307_modularity(spark, sf_dir):
    """Newman–Girvan modularity of the EXACT x239 label-propagation
    partition on the customer↔supplier graph: Q = sum over communities
    of (m_c/m - (d_c/2m)^2), plus coverage (share of edges internal) —
    the number that says whether the LPA communities x239 reports are
    structure or noise (the x256/x269 audit-pairing discipline applied
    to graphs).

    Scale: the partition is the x239 plan (bounded message-passing
    rounds); the evaluation is two label joins on the edge relation
    plus community-sized algebra."""
    from social_warner_spark.operators.graph import lpa_fixed

    nodes, e0, edges = _lpa_graph(spark, sf_dir)
    # lpa_fixed returns a materialized |nodes|-row relation, so its three
    # downstream consumers read the checkpoint, not the round lineage.
    labels = lpa_fixed(nodes, edges, iters=LPA_ITERS)
    la = labels.select(F.col("node").alias("src"), F.col("lbl").alias("cl_a"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("cl_b"))
    within = (
        e0.join(la, "src")
        .join(lb, "dst")
        .where(F.col("cl_a") == F.col("cl_b"))
        .groupBy(F.col("cl_a").alias("lbl"))
        .agg(F.count("*").alias("mc"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    dsum = (
        labels.join(deg, "node", "left")
        .groupBy("lbl")
        .agg(F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("dc"))
    )
    m = e0.agg(F.count("*").alias("m"))
    cells = dsum.join(within, "lbl", "left").crossJoin(F.broadcast(m))
    return cells.agg(
        F.count("*").alias("n_communities"),
        F.max("m").alias("m_edges"),
        r6(
            F.sum(
                F.coalesce(F.col("mc"), F.lit(0)) / F.col("m")
                - F.pow(F.col("dc") / (2.0 * F.col("m")), 2)
            )
        ).alias("modularity"),
        r6(
            F.sum(F.coalesce(F.col("mc"), F.lit(0))) / F.max("m")
        ).alias("coverage"),
    )


def x308_rich_club(spark, sf_dir):
    """Rich-club coefficient of the part co-purchase graph at degree
    thresholds 5/10/20/40: phi(k) = 2 E_k / (N_k (N_k - 1)) over the
    subgraph of nodes with degree > k — "do the hubs preferentially
    trade with each other", the structural fact behind x259's
    degree-cap design choice.

    Scale: one degree aggregation; per-threshold counts come from the
    degree histogram and the per-edge min-endpoint-degree relation —
    the subgraphs are never materialized."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
    )
    from social_warner_spark.caching import register_persisted

    edges = register_persisted(edges.persist())
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = register_persisted(
        und.groupBy("src").agg(F.count("*").alias("deg")).persist()
    )
    ks = spark.createDataFrame([(k,) for k in RC_KS], ["k"])
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_nodes"))
    )
    da = deg.select(F.col("src"), F.col("deg").alias("da"))
    db = deg.select(F.col("src").alias("dst"), F.col("deg").alias("db"))
    eme = edges.join(da, "src").join(db, "dst").select(
        F.least("da", "db").alias("me")
    )
    ek = (
        eme.crossJoin(F.broadcast(ks))
        .where(F.col("me") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            "k",
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
            F.when(
                F.col("n_nodes") > 1,
                r6(
                    2.0
                    * F.coalesce(F.col("n_edges"), F.lit(0))
                    / (F.col("n_nodes") * (F.col("n_nodes") - 1))
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


def x309_psi(spark, sf_dir):
    """Population stability index per event type between the first and
    second halves of the observation window (midpoint computed
    relationally): reference-decile bins, Laplace-smoothed shares, PSI
    = sum (p - q) ln(p/q), with the standard stable/moderate/shifted
    verdict — the scorecard-monitoring twin of x172's KS drift.

    Scale: one percentile aggregation on the reference rows (cuts
    broadcast), one binned count per period, 10-bin algebra after."""
    ev = T(spark, sf_dir, "events")
    split = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(MICROSECOND,"
            " CAST(timestampdiff(MICROSECOND, lo, hi) / 2 AS BIGINT), lo)"
        ).alias("cut")
    )
    marked = ev.crossJoin(F.broadcast(split)).select(
        "event_type",
        "value",
        (F.col("ts") >= F.col("cut")).alias("cur"),
    )
    from social_warner_spark.caching import register_persisted

    marked = register_persisted(marked.persist())
    qs = ", ".join(
        str(round(i / PSI_BINS, 2)) for i in range(1, PSI_BINS)
    )
    cuts = (
        marked.where(~F.col("cur"))
        .groupBy("event_type")
        .agg(F.expr(f"percentile(value, array({qs}))").alias("cs"))
        .select(
            "event_type",
            F.posexplode(F.col("cs")).alias("ci", "cut_raw"),
        )
        .select(
            "event_type", "ci", F.round("cut_raw", 6).alias("cutv")
        )
    )
    rows_per = (
        marked.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "cur", "value")
        .agg(
            (
                F.sum((F.col("value") > F.col("cutv")).cast("int"))
                / F.count("*")
                * (PSI_BINS - 1)
                + 1
            )
            .cast("int")
            .alias("b"),
            (F.count("*") / (PSI_BINS - 1)).cast("long").alias("nrows"),
        )
    )
    # bounded (types x 2 x 10); eagerly cut the percentile+bin lineage
    # before the four grid consumers below.
    cells = rows_per.groupBy("event_type", "cur", "b").agg(
        F.sum("nrows").alias("c")
    ).localCheckpoint(eager=True)
    grid = (
        cells.select("event_type").distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1, PSI_BINS + 1).select(
                    F.col("id").cast("int").alias("b")
                )
            )
        )
        .crossJoin(
            F.broadcast(spark.createDataFrame([(False,), (True,)], ["cur"]))
        )
        .join(cells, ["event_type", "cur", "b"], "left")
        .select(
            "event_type",
            "cur",
            "b",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    tots = grid.groupBy("event_type", "cur").agg(F.sum("c").alias("n"))
    sh = grid.join(tots, ["event_type", "cur"]).select(
        "event_type",
        "b",
        "cur",
        (
            (F.col("c") + 0.5) / (F.col("n") + 0.5 * PSI_BINS)
        ).alias("share"),
    )
    ref = sh.where(~F.col("cur")).select(
        "event_type", "b", F.col("share").alias("p")
    )
    cur = sh.where(F.col("cur")).select(
        "event_type", "b", F.col("share").alias("q")
    )
    psi = (
        ref.join(cur, ["event_type", "b"])
        .groupBy("event_type")
        .agg(
            r6(
                F.sum(
                    (F.col("p") - F.col("q"))
                    * F.log(F.col("p") / F.col("q"))
                )
            ).alias("psi")
        )
    )
    return psi.select(
        "event_type",
        "psi",
        F.when(F.col("psi") < PSI_MODERATE, F.lit("stable"))
        .when(F.col("psi") < PSI_SHIFTED, F.lit("moderate_shift"))
        .otherwise(F.lit("shifted"))
        .alias("verdict"),
    ).orderBy("event_type")


def x310_g_test(spark, sf_dir):
    """G-test (log-likelihood-ratio) of language-by-source
    independence: G = 2 sum O ln(O/E) over the contingency cells —
    x290's chi-square twin, preferred when expected counts are small
    (chi2 is G's second-order Taylor approximation, and the pair makes
    that visible on the same table).

    Scale: identical to x290 — one contingency aggregation, grid
    algebra after."""
    d = T(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    from social_warner_spark.caching import register_persisted

    cell = register_persisted(cell.persist())
    rows_ = cell.groupBy("lang").agg(F.sum("o").alias("rn"))
    cols_ = cell.groupBy("source").agg(F.sum("o").alias("cn"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
    )
    e = F.col("rn") * F.col("cn") / F.col("n")
    grid = (
        rows_.crossJoin(cols_)
        .join(cell, ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "r",
            "c",
            F.when(
                F.col("o").isNotNull(),
                2.0 * F.col("o") * F.log(F.col("o") / e),
            )
            .otherwise(F.lit(0.0))
            .alias("gterm"),
            (
                F.pow(F.coalesce(F.col("o"), F.lit(0)) - e, 2) / e
            ).alias("x2term"),
        )
    )
    return grid.groupBy("n", "r", "c").agg(
        r6(F.sum("gterm")).alias("g_stat"),
        r6(F.sum("x2term")).alias("chi2"),
        ((F.max("r") - 1) * (F.max("c") - 1)).alias("df"),
    ).select("n", "r", "c", "g_stat", "chi2", "df")


def x311_eigen_gap(spark, sf_dir):
    """Spectral eigen-gap of the embedding Gram matrix by DEFLATED
    power iteration: phase 1 is x185's relational iteration (lambda1,
    v1); phase 2 iterates w = G v - lambda1 (v1.v) v1 (Hotelling
    deflation — G still never materialized), giving lambda2; the gap
    and ratio say whether the corpus has one dominant direction (ANN
    bucketing on axis signs keeps working) or a near-degenerate top
    pair.

    Scale: per round, one |vectors|-row and one |dims|-row aggregation
    plus a 1-row correction — identical shuffle shape to x185, with
    per-round localCheckpoints."""
    from social_warner_spark.caching import register_persisted

    rows = (
        T(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "j0", "x"
            ),
        )
        .select("vec_id", (F.col("j0") + 1).alias("j"), "x")
    )
    rows = register_persisted(rows.persist())

    def gv(v):
        d = (
            rows.join(v, "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("v")).alias("d"))
        )
        return (
            rows.join(d, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("x") * F.col("d")).alias("w"))
        )

    v = spark.range(1, EG_DIM + 1).select(
        F.col("id").alias("j"), F.lit(1.0 / 8.0).alias("v")
    )
    nrm1 = None
    for _ in range(EG_ROUNDS):
        w = gv(v).localCheckpoint(eager=True)
        nrm1 = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm1)).select(
            "j", (F.col("w") / F.col("nrm")).alias("v")
        )
    v1 = register_persisted(
        v.select("j", F.col("v").alias("v1")).localCheckpoint(eager=True)
    )
    lam1 = nrm1.select(F.col("nrm").alias("lam1")).localCheckpoint(
        eager=True
    )
    u = spark.range(1, EG_DIM + 1).select(
        F.col("id").alias("j"), F.lit(1.0 / 8.0).alias("v")
    )
    # deflation seed must not be parallel to v1: subtract the v1
    # component once up front, then iterate.
    nrm2 = None
    for _ in range(EG_ROUNDS):
        w = gv(u)
        corr = (
            w.join(v1, "j")
            .agg(F.sum(F.col("w") * F.col("v1")).alias("cw"))
        )
        w2 = (
            w.join(v1, "j")
            .crossJoin(F.broadcast(corr))
            .select(
                "j",
                (F.col("w") - F.col("cw") * F.col("v1")).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        nrm2 = w2.agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
        )
        u = w2.crossJoin(F.broadcast(nrm2)).select(
            "j", (F.col("w") / F.col("nrm")).alias("v")
        )
    out = (
        lam1.crossJoin(nrm2.select(F.col("nrm").alias("lam2")))
    )
    return out.select(
        r6(F.col("lam1")).alias("lambda1"),
        r6(F.col("lam2")).alias("lambda2"),
        r6(F.col("lam1") - F.col("lam2")).alias("gap"),
        r6(F.col("lam2") / F.col("lam1")).alias("ratio"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _lpa_chain() -> str:
    rounds = []
    prev = "l0"
    for k in range(1, LPA_ITERS + 1):
        rounds.append(
            f"""v{k} AS (
            SELECT e.src AS node, l.lbl, COUNT(*) AS c
            FROM edges e JOIN {prev} l ON e.dst = l.node GROUP BY 1, 2
        ), b{k} AS (
            SELECT node, lbl FROM (
                SELECT node, lbl,
                       ROW_NUMBER() OVER (
                           PARTITION BY node ORDER BY c DESC, lbl
                       ) AS rn
                FROM v{k}
            ) WHERE rn = 1
        ), l{k} AS (
            SELECT p.node, COALESCE(b{k}.lbl, p.lbl) AS lbl
            FROM {prev} p LEFT JOIN b{k} ON p.node = b{k}.node
        )"""
        )
        prev = f"l{k}"
    return ", ".join(rounds), prev


def _modularity_oracle() -> str:
    body, last = _lpa_chain()
    return f"""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS MATERIALIZED (
            SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0
        ), nodes AS (
            SELECT c_custkey * 2 AS node FROM customer
            UNION ALL
            SELECT s_suppkey * 2 + 1 AS node FROM supplier
        ), l0 AS (
            SELECT node, node AS lbl FROM nodes
        ), {body}, lab AS MATERIALIZED (
            SELECT node, lbl FROM {last}
        ), within AS (
            SELECT la.lbl, COUNT(*) AS mc
            FROM e0
            JOIN lab la ON la.node = e0.src
            JOIN lab lb ON lb.node = e0.dst
            WHERE la.lbl = lb.lbl
            GROUP BY la.lbl
        ), deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1
        ), dsum AS (
            SELECT l.lbl, SUM(COALESCE(d.deg, 0)) AS dc
            FROM lab l LEFT JOIN deg d USING (node)
            GROUP BY l.lbl
        ), mm AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM e0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(MAX(m) AS BIGINT) AS m_edges,
               ROUND(SUM(COALESCE(w.mc, 0) / mm.m
                         - pow(ds.dc / (2.0 * mm.m), 2)), 6)
                   AS modularity,
               ROUND(SUM(COALESCE(w.mc, 0)) / MAX(mm.m), 6) AS coverage
        FROM dsum ds
        LEFT JOIN within w USING (lbl)
        CROSS JOIN mm
    """


def _eigen_oracle() -> str:
    parts = [
        f"rows_ AS MATERIALIZED (SELECT vec_id, u.i AS j,"
        f" CAST(embedding[u.i] AS DOUBLE) AS x FROM embeddings,"
        f" UNNEST(range(1, {EG_DIM + 1})) AS u(i)),\n"
        f"v0 AS (SELECT u.i AS j, 0.125 AS v"
        f" FROM UNNEST(range(1, {EG_DIM + 1})) AS u(i))"
    ]
    for r in range(1, EG_ROUNDS + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT vec_id, SUM(x * v) AS d FROM rows_"
            f" JOIN v{r - 1} USING (j) GROUP BY vec_id)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT j, SUM(x * d) AS w FROM rows_"
            f" JOIN d{r} USING (vec_id) GROUP BY j)"
        )
        parts.append(f"n{r} AS MATERIALIZED (SELECT sqrt(SUM(w * w)) AS nrm FROM w{r})")
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT j, w / nrm AS v FROM w{r}, n{r})"
        )
    parts.append(
        f"vone AS MATERIALIZED (SELECT j, v AS v1 FROM v{EG_ROUNDS})"
    )
    parts.append(
        f"u0 AS (SELECT u.i AS j, 0.125 AS v"
        f" FROM UNNEST(range(1, {EG_DIM + 1})) AS u(i))"
    )
    for r in range(1, EG_ROUNDS + 1):
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT vec_id, SUM(x * v) AS d FROM rows_"
            f" JOIN u{r - 1} USING (j) GROUP BY vec_id)"
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT j, SUM(x * d) AS w FROM rows_"
            f" JOIN e{r} USING (vec_id) GROUP BY j)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT SUM(g{r}.w * vone.v1) AS cw"
            f" FROM g{r} JOIN vone USING (j))"
        )
        parts.append(
            f"h{r} AS MATERIALIZED (SELECT g{r}.j, g{r}.w - c{r}.cw * vone.v1 AS w"
            f" FROM g{r} JOIN vone USING (j), c{r})"
        )
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT sqrt(SUM(w * w)) AS nrm FROM h{r})"
        )
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT j, w / nrm AS v FROM h{r}, m{r})"
        )
    final = (
        f"SELECT ROUND(n{EG_ROUNDS}.nrm, 6) AS lambda1,\n"
        f"       ROUND(m{EG_ROUNDS}.nrm, 6) AS lambda2,\n"
        f"       ROUND(n{EG_ROUNDS}.nrm - m{EG_ROUNDS}.nrm, 6) AS gap,\n"
        f"       ROUND(m{EG_ROUNDS}.nrm / n{EG_ROUNDS}.nrm, 6) AS ratio\n"
        f"FROM n{EG_ROUNDS}, m{EG_ROUNDS}"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


ORACLES = {
    "x307_modularity": _modularity_oracle(),
    "x308_rich_club": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), edges AS MATERIALIZED (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        ), und AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        ), deg AS MATERIALIZED (
            SELECT src, COUNT(*) AS deg FROM und GROUP BY 1
        ), ks AS (
            SELECT UNNEST([{", ".join(str(k) for k in RC_KS)}]) AS k
        ), nk AS (
            SELECT ks.k, COUNT(*) AS n_nodes
            FROM ks JOIN deg ON deg.deg > ks.k
            GROUP BY ks.k
        ), eme AS (
            SELECT LEAST(da.deg, db.deg) AS me
            FROM edges e
            JOIN deg da ON da.src = e.src
            JOIN deg db ON db.src = e.dst
        ), ek AS (
            SELECT ks.k, COUNT(*) AS n_edges
            FROM ks JOIN eme ON eme.me > ks.k
            GROUP BY ks.k
        )
        SELECT nk.k, CAST(nk.n_nodes AS BIGINT) AS n_nodes,
               CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
               CASE WHEN nk.n_nodes > 1
                    THEN ROUND(2.0 * COALESCE(ek.n_edges, 0)
                               / (nk.n_nodes * (nk.n_nodes - 1)), 6)
               END AS phi
        FROM nk LEFT JOIN ek USING (k)
        ORDER BY k
    """,
    "x309_psi": f"""
        WITH split AS (
            SELECT MIN(ts) + to_microseconds(
                       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 2
                            AS BIGINT)) AS cut
            FROM events
        ), marked AS MATERIALIZED (
            SELECT event_type, value, ts >= cut AS cur
            FROM events CROSS JOIN split
        ), qcs AS (
            SELECT event_type,
                   quantile_cont(value,
                       [{", ".join(str(round(i / PSI_BINS, 2)) for i in range(1, PSI_BINS))}])
                       AS cs
            FROM marked WHERE NOT cur GROUP BY event_type
        ), cuts AS (
            SELECT event_type, u.ci, ROUND(cs[u.ci], 6) AS cutv
            FROM qcs, UNNEST(range(1, {PSI_BINS})) AS u(ci)
        ), rows_per AS (
            SELECT m.event_type, m.cur, m.value,
                   CAST(SUM(CASE WHEN m.value > c.cutv
                                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                        * {PSI_BINS - 1} + 1 AS INT) AS b,
                   CAST(COUNT(*) / {PSI_BINS - 1} AS BIGINT) AS nrows
            FROM marked m JOIN cuts c USING (event_type)
            GROUP BY m.event_type, m.cur, m.value
        ), cells AS (
            SELECT event_type, cur, b, SUM(nrows) AS c
            FROM rows_per GROUP BY 1, 2, 3
        ), grid AS (
            SELECT t.event_type, p.cur, g.b, COALESCE(c.c, 0) AS c
            FROM (SELECT DISTINCT event_type FROM cells) t
            CROSS JOIN (SELECT UNNEST(range(1, {PSI_BINS + 1})) AS b) g
            CROSS JOIN (SELECT UNNEST([false, true]) AS cur) p
            LEFT JOIN cells c
              ON c.event_type = t.event_type AND c.cur = p.cur
             AND c.b = g.b
        ), tots AS (
            SELECT event_type, cur, SUM(c) AS n FROM grid GROUP BY 1, 2
        ), sh AS (
            SELECT g.event_type, g.b, g.cur,
                   (g.c + 0.5) / (t.n + 0.5 * {PSI_BINS}) AS share
            FROM grid g JOIN tots t USING (event_type, cur)
        ), psi AS (
            SELECT r.event_type,
                   ROUND(SUM((r.share - c.share)
                             * ln(r.share / c.share)), 6) AS psi
            FROM (SELECT * FROM sh WHERE NOT cur) r
            JOIN (SELECT * FROM sh WHERE cur) c
              USING (event_type, b)
            GROUP BY r.event_type
        )
        SELECT event_type, psi,
               CASE WHEN psi < {PSI_MODERATE} THEN 'stable'
                    WHEN psi < {PSI_SHIFTED} THEN 'moderate_shift'
                    ELSE 'shifted' END AS verdict
        FROM psi ORDER BY event_type
    """,
    "x310_g_test": """
        WITH cell AS (
            SELECT lang, source, COUNT(*) AS o
            FROM documents GROUP BY 1, 2
        ), rows_ AS (
            SELECT lang, SUM(o) AS rn FROM cell GROUP BY 1
        ), cols_ AS (
            SELECT source, SUM(o) AS cn FROM cell GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS c
            FROM cell
        ), grid AS (
            SELECT tot.n, tot.r, tot.c,
                   CASE WHEN ce.o IS NOT NULL
                        THEN 2.0 * ce.o
                             * ln(ce.o / (rw.rn * cl.cn * 1.0 / tot.n))
                        ELSE 0.0 END AS gterm,
                   pow(COALESCE(ce.o, 0)
                       - rw.rn * cl.cn * 1.0 / tot.n, 2)
                       / (rw.rn * cl.cn * 1.0 / tot.n) AS x2term
            FROM rows_ rw CROSS JOIN cols_ cl CROSS JOIN tot
            LEFT JOIN cell ce
              ON ce.lang = rw.lang AND ce.source = cl.source
        )
        SELECT n, r, c,
               ROUND(SUM(gterm), 6) AS g_stat,
               ROUND(SUM(x2term), 6) AS chi2,
               (MAX(r) - 1) * (MAX(c) - 1) AS df
        FROM grid GROUP BY n, r, c
    """,
    "x311_eigen_gap": _eigen_oracle(),
}

QUERIES = {
    "x307_modularity": x307_modularity,
    "x308_rich_club": x308_rich_club,
    "x309_psi": x309_psi,
    "x310_g_test": x310_g_test,
    "x311_eigen_gap": x311_eigen_gap,
}
