"""x14 series — round-3 widening batch (x237–x246): language-model
smoothing, classical time-series smoothing, community detection, privacy
auditing, subword segmentation, paired-classifier testing, EM record
linkage, generative text classification, feature selection, and
off-policy evaluation.

Like every other series, each query is a pure DataFrame program over the
driver's parquet tables with an independently-written DuckDB oracle, and
every iterative algorithm is expressed with a FIXED, unrolled round
count so the oracle can reproduce it exactly.

Literature grounding (public):
- Kneser & Ney, "Improved backing-off for m-gram language modeling"
  (ICASSP 1995); Chen & Goodman tech report TR-10-98 for the
  interpolated form used here.
- Holt, "Forecasting seasonals and trends by exponentially weighted
  moving averages" (1957; reprinted IJF 2004).
- Raghavan, Albert & Kumara, "Near linear time algorithm to detect
  community structures in large-scale networks" (Phys. Rev. E 2007) —
  label propagation.
- Machanavajjhala et al., "l-Diversity: Privacy Beyond k-Anonymity"
  (ICDE 2006).
- Schuster & Nakajima, "Japanese and Korean voice search" (ICASSP 2012)
  — WordPiece greedy longest-match-first segmentation.
- McNemar, "Note on the sampling error of the difference between
  correlated proportions" (Psychometrika 1947).
- Fellegi & Sunter, "A theory for record linkage" (JASA 1969); EM
  fitting per Winkler (1988).
- McCallum & Nigam, "A comparison of event models for naive Bayes text
  classification" (AAAI-98 workshop).
- Yang & Pedersen, "A comparative study on feature selection in text
  categorization" (ICML 1997) — chi-square term selection.
- Swaminathan & Joachims, "The self-normalized estimator for
  counterfactual learning" (NeurIPS 2015) — SNIPS.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import shingles_from_tokens, tokens
from social_warner_spark.queries.common import T, r6

#: x237 — absolute discount for interpolated Kneser-Ney (the Chen &
#: Goodman fixed-discount variant; counts are >=1 so c-D stays positive).
KN_D = 0.75
#: x238 — Holt linear-trend smoothing weights (level / trend).
HW_ALPHA = 0.5
HW_BETA = 0.3
#: x239 — synchronous label-propagation rounds (unrolled in the oracle).
LPA_ITERS = 3
#: x240 — privacy thresholds: k-anonymity class size, l-diversity
#: distinct-sensitive-value floor, sensitive band width (acctbal units).
LDIV_K = 5
LDIV_L = 3
LDIV_BAND = 1000.0
#: x241 — WordPiece-style vocab: every corpus character plus the top
#: TOP_NGRAMS occurrence-weighted character n-grams of len 2..MAX_PIECE.
WP_TOP_NGRAMS = 50
WP_MAX_PIECE = 4
#: x242 — fixed decision thresholds for the two rule classifiers.
MCN_LEN_THRESHOLD = 600
MCN_MARKER = "the"
#: x243 — linkage block + agreement definitions and EM initialisation.
FS_BAL_EPS = 50.0
FS_KEY_MOD = 97
FS_M0 = 0.9
FS_U0 = 0.1
FS_P0 = 0.05
FS_EM_ROUNDS = 2
#: x244 — naive-Bayes train/test split modulus (doc_id % 5 == 0 → test).
NB_SPLIT_MOD = 5
#: x245 — result size for chi-square token selection.
CHI2_TOP_K = 20
#: x246 — context segmentation for off-policy evaluation.
IPS_SEGMENTS = 10


# ---------------------------------------------------------------------------
# x237 — interpolated Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------


def x237_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring per document — the
    smoothing that (unlike x66's simple interpolation) bases the backoff
    on CONTINUATION counts: P_KN(w2|w1) = (c(w1,w2)-D)/c(w1.) +
    D*N1+(w1.)/c(w1.) * N1+(.w2)/|bigram types|.

    Scale shape is identical to x66: the model is assembled purely on
    the DISTINCT-bigram relation (vocabulary-bounded — continuation and
    context statistics are group-bys OF that relation, strictly smaller
    than it), so the full bigram stream shuffles exactly twice: the
    model equi-join and the per-doc mean.  The |bigram types| total is a
    broadcast 1-row relation."""
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    # The bigram stream feeds BOTH the model fit and the scoring join —
    # persist it once or the tokenize+shingle+explode pass runs twice
    # (measured 6.2s -> ~3s at sf0.1).
    bg = register_persisted(
        staged.select(
            "doc_id",
            F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("bg"),
        ).persist()
    )
    bgc = (
        bg.groupBy("bg")
        .agg(F.count("*").alias("c12"))
        .select(
            "bg",
            "c12",
            F.split("bg", " ").getItem(0).alias("w1"),
            F.split("bg", " ").getItem(1).alias("w2"),
        )
    )
    ctx = bgc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1_fwd")
    )
    cont = bgc.groupBy("w2").agg(F.count("*").alias("n1_rev"))
    btypes = bgc.agg(F.count("*").alias("b_types"))
    model = (
        bgc.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "bg",
            F.log(
                (F.col("c12") - KN_D) / F.col("c1")
                + KN_D
                * F.col("n1_fwd")
                / F.col("c1")
                * F.col("n1_rev")
                / F.col("b_types")
            ).alias("lp"),
        )
    )
    return (
        bg.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r6(F.avg("lp")).alias("avg_kn_logp"),
        )
    )


# ---------------------------------------------------------------------------
# x238 — Holt linear-trend exponential smoothing
# ---------------------------------------------------------------------------


def x238_holt_smoothing(spark, sf_dir):
    """Holt double-exponential (level+trend) smoothing of the per-type
    daily value series: l_t = a*y_t + (1-a)(l+b), b_t = B(l_t-l)+(1-B)b,
    initialised l=y_1, b=y_2-y_1, folded left-to-right over the sorted
    series; reports the final state, the 1-step-ahead forecast and the
    in-sample RMSE.  (The first folded step forecasts y_2 exactly by
    construction, so its error term is 0 — mirrored in the oracle.)

    Scale shape: one map-side-combined shuffle builds the daily grid;
    the recursion itself is a NARROW fold (F.aggregate) over each key's
    in-memory day array — state per key is O(1), array per key is
    bounded by the date range, and no iteration-per-day job is launched.
    The oracle replays the identical recursion as a recursive CTE."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    ys = F.transform(F.col("s"), lambda e: e["y"])
    stepped = series.where(F.size("s") >= 2).select(
        "event_type",
        F.size("s").alias("n_days"),
        F.aggregate(
            F.slice(ys, 2, F.size(ys) - 1),
            F.struct(
                F.element_at(ys, 1).alias("l"),
                (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
                F.lit(0.0).alias("sse"),
            ),
            lambda acc, y: F.struct(
                (
                    HW_ALPHA * y + (1 - HW_ALPHA) * (acc["l"] + acc["b"])
                ).alias("l"),
                (
                    HW_BETA
                    * (
                        HW_ALPHA * y
                        + (1 - HW_ALPHA) * (acc["l"] + acc["b"])
                        - acc["l"]
                    )
                    + (1 - HW_BETA) * acc["b"]
                ).alias("b"),
                (
                    acc["sse"]
                    + (y - (acc["l"] + acc["b"])) * (y - (acc["l"] + acc["b"]))
                ).alias("sse"),
            ),
        ).alias("st"),
    )
    return stepped.select(
        "event_type",
        "n_days",
        r6(F.col("st")["l"]).alias("level"),
        r6(F.col("st")["b"]).alias("trend"),
        r6(F.col("st")["l"] + F.col("st")["b"]).alias("forecast_next"),
        r6(
            F.sqrt(F.col("st")["sse"] / (F.col("n_days") - 1))
        ).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# x239 — label-propagation communities
# ---------------------------------------------------------------------------


def x239_label_propagation(spark, sf_dir):
    """Synchronous label propagation (3 fixed rounds) over the same
    undirected customer↔supplier order graph as x39's PageRank: each
    node adopts the most frequent neighbor label (ties → minimum
    label); isolated nodes keep their label.  Output is the community
    size histogram keyed by the winning node id.

    Node ids are INTEGERS (2·custkey for customers, 2·suppkey+1 for
    suppliers — disjoint by parity) rather than tagged strings: labels
    are re-shuffled every round, and an 8-byte long halves the vote
    shuffle payload vs short strings AND makes the tie-break a single
    integer compare (measured 7.6s → ~2s at sf0.1 vs the string form).

    Scale shape: each round is one (edges ⋈ labels) equi-join + one
    (node,label) count + one per-node min_by hash aggregation — the
    same bounded-round message-passing plan family as PageRank/k-core,
    with per-round materializations so round k reads round k-1's
    materialisation, not its lineage."""
    from social_warner_spark.operators.graph import lpa_fixed

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    cust = T(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2).alias("node")
    )
    supp = T(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    nodes = cust.unionAll(supp)
    e0 = (
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
    labels = lpa_fixed(nodes, edges, iters=LPA_ITERS)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# x240 — l-diversity privacy audit
# ---------------------------------------------------------------------------


def x240_l_diversity(spark, sf_dir):
    """k-anonymity + l-diversity audit of customer quasi-identifiers:
    equivalence classes are (nation, market segment); the sensitive
    attribute is the account-balance band (floor(bal/1000)).  Reports
    per-class size k, distinct-sensitive-count l, and whether the class
    meets k>=5 / l>=3 — the release-gating check run before publishing
    any user-keyed training slice.

    Scale: a single map-side-combined two-level aggregation (band
    distinct inside class) — one shuffle on the class key."""
    c = T(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / LDIV_BAND)
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct(band).alias("l"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "l",
            (F.col("k") >= LDIV_K).alias("k_anon_ok"),
            (F.col("l") >= LDIV_L).alias("l_diverse_ok"),
        )
    )


# ---------------------------------------------------------------------------
# x241 — greedy WordPiece segmentation
# ---------------------------------------------------------------------------


def x241_greedy_wordpiece(spark, sf_dir):
    """WordPiece-style greedy longest-match-first subword segmentation
    with a corpus-derived piece vocabulary (all single characters, which
    guarantees total coverage, plus the top-50 occurrence-weighted
    character 2..4-grams); reports per-document word/piece counts and
    fertility (pieces per word) — the tokenizer-efficiency signal that
    drives vocab sizing (compare x109's fixed-vocab fertility).

    The greedy walk is made RELATIONAL rather than recursive: a
    per-position best-match-length table bl[p] is computed with one
    (substring, piece) equi-join over exploded (word, position, length)
    rows, and the longest-match walk is then an O(len) F.aggregate fold
    per word ("advance pos by bl[pos] when the index reaches pos").
    Everything runs on the DISTINCT-word relation (vocabulary-bounded,
    tiny next to the corpus) and joins back to the token stream once —
    at 100 TB the corpus shuffles exactly twice (word join, doc agg)."""
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    tok = staged.select("doc_id", F.explode("_toks").alias("w"))
    wordc = (
        tok.groupBy("w").agg(F.count("*").alias("wc")).where(F.length("w") >= 1)
    )

    grams = None
    for n in range(2, WP_MAX_PIECE + 1):
        g = wordc.where(F.length("w") >= n).select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(w)-{n}+1),"
                    f" i -> substr(w, i, {n}))"
                )
            ).alias("piece"),
            "wc",
        )
        grams = g if grams is None else grams.unionAll(g)
    top = (
        grams.groupBy("piece")
        .agg(F.sum("wc").alias("s"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("s"), F.asc("piece"))
            ),
        )
        .where(F.col("rn") <= WP_TOP_NGRAMS)
        .select("piece")
    )
    singles = wordc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")
        ).alias("piece")
    ).distinct()
    vocab = singles.unionAll(top).distinct()

    pos_len = (
        wordc.select("w")
        .select(
            "w",
            F.explode(F.expr("sequence(1, length(w))")).alias("p"),
        )
        .select(
            "w",
            "p",
            F.explode(
                F.expr(f"sequence(1, {WP_MAX_PIECE})")
            ).alias("plen"),
        )
        .where(F.col("p") + F.col("plen") - 1 <= F.length("w"))
        .select(
            "w",
            "p",
            "plen",
            F.expr("substr(w, p, plen)").alias("piece"),
        )
    )
    bl = (
        pos_len.join(vocab, "piece")
        .groupBy("w", "p")
        .agg(F.max("plen").alias("bl"))
    )
    blarr = bl.groupBy("w").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("p", "bl")))
        ).alias("m")
    )
    walk = blarr.select(
        "w",
        F.aggregate(
            F.expr("sequence(1, cardinality(m))"),
            F.struct(F.lit(1).alias("pos"), F.lit(0).alias("cnt")),
            lambda acc, i: F.when(
                i == acc["pos"],
                F.struct(
                    (acc["pos"] + F.element_at(F.col("m"), acc["pos"])).alias(
                        "pos"
                    ),
                    (acc["cnt"] + 1).alias("cnt"),
                ),
            ).otherwise(acc),
        )["cnt"].alias("pieces"),
    )
    return (
        tok.join(walk, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("pieces").alias("n_pieces"),
            r6(F.sum("pieces") / F.count("*")).alias("fertility"),
        )
    )

# ---------------------------------------------------------------------------
# x242 — McNemar paired classifier test
# ---------------------------------------------------------------------------


def x242_mcnemar(spark, sf_dir):
    """McNemar's paired test comparing two rule classifiers on the same
    documents (truth: lang == 'en'; A: n_chars >= 600; B: text contains
    the token 'the'): the 2x2 correctness cross-table and the
    continuity-corrected statistic (|b-c|-1)^2/(b+c), the standard test
    for "is classifier B actually better than A on the SAME examples".

    Scale: a single full-table aggregation of narrow per-row flags —
    one shuffle of four partial counters."""
    d = T(spark, sf_dir, "documents")
    truth = F.col("lang") == "en"
    pred_a = F.col("n_chars") >= MCN_LEN_THRESHOLD
    pred_b = F.array_contains(tokens(F.col("text")), MCN_MARKER)
    a_cor = (pred_a == truth).cast("long")
    b_cor = (pred_b == truth).cast("long")
    agg = d.agg(
        F.count("*").alias("n"),
        F.sum(a_cor * b_cor).alias("n_both"),
        F.sum(a_cor * (1 - b_cor)).alias("n_a_only"),
        F.sum((1 - a_cor) * b_cor).alias("n_b_only"),
        F.sum((1 - a_cor) * (1 - b_cor)).alias("n_neither"),
    )
    disc = F.col("n_a_only") + F.col("n_b_only")
    return agg.select(
        "n",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        r6((F.col("n_both") + F.col("n_a_only")) / F.col("n")).alias("acc_a"),
        r6((F.col("n_both") + F.col("n_b_only")) / F.col("n")).alias("acc_b"),
        r6(
            F.when(
                disc > 0,
                (
                    (F.abs(F.col("n_a_only") - F.col("n_b_only")) - 1)
                    * (F.abs(F.col("n_a_only") - F.col("n_b_only")) - 1)
                ).cast("double")
                / disc,
            ).otherwise(F.lit(0.0))
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# x243 — Fellegi-Sunter record linkage with EM
# ---------------------------------------------------------------------------


def x243_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter record-linkage parameter estimation: customer
    pairs blocked by nation, three binary agreement fields (market
    segment equality, account balance within 50, synthetic key-mod-97
    field), collapsed to the 8-row agreement-PATTERN relation, then two
    unrolled EM rounds estimate per-field m/u probabilities and the
    match prior.  Output: (field, m, u, prior).

    Scale shape: the pair space is bounded by the nation BLOCK (an
    equi-self-join — never all-pairs); patterns collapse with map-side
    combine to <=8 rows, so both EM rounds are algebra on a broadcast
    8-row relation crossed with a 1-row parameter relation — the same
    "iterative state as tiny relation" pattern as BPE (x170)."""
    c = T(spark, sf_dir, "customer")
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        .cast("long")
        .alias("g1"),
        (
            F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) < FS_BAL_EPS
        )
        .cast("long")
        .alias("g2"),
        (
            F.col("a.c_custkey") % FS_KEY_MOD
            == F.col("b.c_custkey") % FS_KEY_MOD
        )
        .cast("long")
        .alias("g3"),
    )
    patterns = pairs.groupBy("g1", "g2", "g3").agg(F.count("*").alias("n"))

    params = spark.range(1).select(
        *[F.lit(FS_M0).alias(f"m{i}") for i in (1, 2, 3)],
        *[F.lit(FS_U0).alias(f"u{i}") for i in (1, 2, 3)],
        F.lit(FS_P0).alias("p"),
    )
    for _ in range(FS_EM_ROUNDS):
        lik_m = F.col("p")
        lik_u = 1 - F.col("p")
        for i in (1, 2, 3):
            gi = F.col(f"g{i}")
            lik_m = lik_m * F.when(gi == 1, F.col(f"m{i}")).otherwise(
                1 - F.col(f"m{i}")
            )
            lik_u = lik_u * F.when(gi == 1, F.col(f"u{i}")).otherwise(
                1 - F.col(f"u{i}")
            )
        wtab = patterns.crossJoin(F.broadcast(params)).select(
            "g1",
            "g2",
            "g3",
            "n",
            (lik_m / (lik_m + lik_u)).alias("wm"),
        )
        params = wtab.agg(
            *[
                (
                    F.sum(F.col("n") * F.col("wm") * F.col(f"g{i}"))
                    / F.sum(F.col("n") * F.col("wm"))
                ).alias(f"m{i}")
                for i in (1, 2, 3)
            ],
            *[
                (
                    F.sum(F.col("n") * (1 - F.col("wm")) * F.col(f"g{i}"))
                    / F.sum(F.col("n") * (1 - F.col("wm")))
                ).alias(f"u{i}")
                for i in (1, 2, 3)
            ],
            (F.sum(F.col("n") * F.col("wm")) / F.sum("n")).alias("p"),
        )

    names = {1: "segment", 2: "balance", 3: "keymod"}
    melted = params.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(names[i]).alias("field"),
                        F.col(f"m{i}").alias("m"),
                        F.col(f"u{i}").alias("u"),
                        F.col("p").alias("prior"),
                    )
                    for i in (1, 2, 3)
                ]
            )
        ).alias("r")
    )
    return melted.select(
        F.col("r")["field"].alias("field"),
        r6(F.col("r")["m"]).alias("m_est"),
        r6(F.col("r")["u"]).alias("u_est"),
        r6(F.col("r")["prior"]).alias("match_prior"),
    )


# ---------------------------------------------------------------------------
# x244 — multinomial naive Bayes
# ---------------------------------------------------------------------------


def x244_naive_bayes(spark, sf_dir):
    """Multinomial naive-Bayes language classifier trained relationally
    (Laplace-1 smoothing over the train vocabulary) on docs with
    doc_id % 5 != 0 and evaluated on the rest; output is the confusion
    matrix (true lang, predicted lang, count).  Test tokens outside the
    train vocabulary are dropped (standard closed-vocabulary scoring);
    prediction ties break on class name.

    Scale shape: the model is (train-vocab x classes) — assembled from
    group-bys of the token stream plus one small cross join — and
    scoring is ONE equi-join of the test token stream against the model
    followed by a per-(doc, class) sum and a per-doc top-1 window.  No
    driver-side state; the class list is a broadcast relation."""
    d = T(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("_toks")
    )
    train = staged.where(F.col("doc_id") % NB_SPLIT_MOD != 0)
    test = staged.where(F.col("doc_id") % NB_SPLIT_MOD == 0)

    ttok = train.select(F.col("lang").alias("cls"), F.explode("_toks").alias("w"))
    ctc = ttok.groupBy("cls", "w").agg(F.count("*").alias("c"))
    ntot = ttok.groupBy("cls").agg(F.count("*").alias("nc"))
    vocab = ttok.select("w").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    priors = (
        train.groupBy(F.col("lang").alias("cls"))
        .agg(F.count("*").alias("nd"))
        .crossJoin(
            F.broadcast(train.agg(F.count("*").alias("ndtot")))
        )
        .select("cls", F.log(F.col("nd") / F.col("ndtot")).alias("lp0"))
    )
    grid = (
        vocab.crossJoin(ntot)
        .join(ctc, ["cls", "w"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "cls",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1)
                / (F.col("nc") + F.col("v"))
            ).alias("lp"),
        )
    )
    stok = test.select("doc_id", "lang", F.explode("_toks").alias("w"))
    scored = (
        stok.join(grid, "w")
        .groupBy("doc_id", "lang", "cls")
        .agg(F.sum("lp").alias("s"))
        .join(priors, "cls")
        .select(
            "doc_id", "lang", "cls", (F.col("s") + F.col("lp0")).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("cls").alias("pred_lang"))
    )
    return pred.groupBy(F.col("lang").alias("true_lang"), "pred_lang").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# x245 — chi-square token selection
# ---------------------------------------------------------------------------


def x245_chi2_tokens(spark, sf_dir):
    """Chi-square feature selection of tokens against the lang=='en'
    label (document-presence based): for each token the 2x2 contingency
    table of (docs containing it x is-English) and the chi2 statistic
    N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)); top-20 by chi2 (ties: token).

    Scale: presence = one distinct on (doc, token); the contingency
    assembly is one group-by over it against broadcast 1-row corpus
    totals; the top-k is a single ordered LIMIT — total three
    map-side-combinable shuffles, no joins against the corpus."""
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", "lang", tokens(F.col("text")).alias("_toks"))
    pres = staged.select(
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("is_en"),
        F.explode("_toks").alias("w"),
    ).distinct()
    tots = staged.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
    )
    cells = pres.groupBy("w").agg(
        F.sum("is_en").alias("a"),
        F.sum(1 - F.col("is_en")).alias("b"),
    )
    scored = cells.crossJoin(F.broadcast(tots)).select(
        "w",
        "a",
        "b",
        (F.col("n_en") - F.col("a")).alias("c"),
        (F.col("n_docs") - F.col("n_en") - F.col("b")).alias("d"),
        "n_docs",
    )
    diff = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    chi2 = (
        F.col("n_docs").cast("double")
        * (diff * diff)
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
        )
    )
    ranked = (
        scored.where(
            ((F.col("a") + F.col("c")) > 0)
            & ((F.col("b") + F.col("d")) > 0)
            & ((F.col("c") + F.col("d")) > 0)
        )
        .select(
            "w",
            (F.col("a") + F.col("b")).alias("doc_freq"),
            r6(chi2).alias("chi2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("chi2"), F.asc("w"))),
        )
        .where(F.col("rn") <= CHI2_TOP_K)
        .drop("rn")
    )
    return ranked


# ---------------------------------------------------------------------------
# x246 — SNIPS off-policy evaluation
# ---------------------------------------------------------------------------


def x246_snips_offpolicy(spark, sf_dir):
    """Off-policy evaluation of a uniform target policy from logged
    event feedback: context = user_id % 10 segment, logged propensity =
    the empirical P(event_type | segment), importance weight = (1/|A|) /
    propensity; reports per-segment plain IPS and self-normalized SNIPS
    value estimates — the counterfactual "what would uniform exploration
    have earned" readout used to vet logged training data for policy
    learning.

    Scale: two map-side-combined aggregations (propensity grid, per-
    segment estimates) with the small propensity grid broadcast back —
    the event stream shuffles once."""
    ev = T(spark, sf_dir, "events")
    seg = (F.col("user_id") % IPS_SEGMENTS).alias("segment")
    base = ev.select(seg, "event_type", "value")
    nact = base.agg(F.countDistinct("event_type").alias("n_actions"))
    segtot = base.groupBy("segment").agg(F.count("*").alias("n_seg"))
    prop = (
        base.groupBy("segment", "event_type")
        .agg(F.count("*").alias("n_sa"))
        .join(segtot, "segment")
        .select(
            "segment",
            "event_type",
            (F.col("n_sa") / F.col("n_seg")).alias("phat"),
        )
    )
    wtd = (
        base.join(F.broadcast(prop), ["segment", "event_type"])
        .crossJoin(F.broadcast(nact))
        .select(
            "segment",
            "value",
            ((1.0 / F.col("n_actions")) / F.col("phat")).alias("wt"),
        )
    )
    return wtd.groupBy("segment").agg(
        F.count("*").alias("n"),
        r6(F.avg(F.col("wt") * F.col("value"))).alias("ips_value"),
        r6(
            F.sum(F.col("wt") * F.col("value")) / F.sum("wt")
        ).alias("snips_value"),
    )


QUERIES = {
    "x237_kneser_ney": x237_kneser_ney,
    "x238_holt_smoothing": x238_holt_smoothing,
    "x239_label_propagation": x239_label_propagation,
    "x240_l_diversity": x240_l_diversity,
    "x241_greedy_wordpiece": x241_greedy_wordpiece,
    "x242_mcnemar": x242_mcnemar,
    "x243_fellegi_sunter": x243_fellegi_sunter,
    "x244_naive_bayes": x244_naive_bayes,
    "x245_chi2_tokens": x245_chi2_tokens,
    "x246_snips_offpolicy": x246_snips_offpolicy,
}


def _lpa_oracle() -> str:
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
    body = ", ".join(rounds)
    return f"""
        WITH e0 AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS (
            SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0
        ), nodes AS (
            SELECT c_custkey * 2 AS node FROM customer
            UNION ALL
            SELECT s_suppkey * 2 + 1 AS node FROM supplier
        ), l0 AS (
            SELECT node, node AS lbl FROM nodes
        ), {body}
        SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM {prev} GROUP BY 1
    """


def _fs_oracle() -> str:
    def lik(p, ms, us):
        m_terms = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN {ms[i]} ELSE 1 - {ms[i]} END)"
            for i in (1, 2, 3)
        )
        u_terms = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN {us[i]} ELSE 1 - {us[i]} END)"
            for i in (1, 2, 3)
        )
        return f"({p} * {m_terms})", f"((1 - {p}) * {u_terms})"

    stages = []
    p = str(FS_P0)
    ms = {i: str(FS_M0) for i in (1, 2, 3)}
    us = {i: str(FS_U0) for i in (1, 2, 3)}
    src = "pat"
    for r in range(1, FS_EM_ROUNDS + 1):
        lm, lu = lik(p, ms, us)
        stages.append(
            f"""w{r} AS (
            SELECT g1, g2, g3, n, {lm} / ({lm} + {lu}) AS wm FROM {src}
        ), p{r} AS (
            SELECT
                SUM(n * wm * g1) / SUM(n * wm) AS m1,
                SUM(n * wm * g2) / SUM(n * wm) AS m2,
                SUM(n * wm * g3) / SUM(n * wm) AS m3,
                SUM(n * (1 - wm) * g1) / SUM(n * (1 - wm)) AS u1,
                SUM(n * (1 - wm) * g2) / SUM(n * (1 - wm)) AS u2,
                SUM(n * (1 - wm) * g3) / SUM(n * (1 - wm)) AS u3,
                SUM(n * wm) / SUM(n) AS p
            FROM w{r}
        )"""
        )
        p = f"p{r}.p"
        ms = {i: f"p{r}.m{i}" for i in (1, 2, 3)}
        us = {i: f"p{r}.u{i}" for i in (1, 2, 3)}
        src = f"pat CROSS JOIN p{r}"
    body = ", ".join(stages)
    last = f"p{FS_EM_ROUNDS}"
    fields = {1: "segment", 2: "balance", 3: "keymod"}
    sel = "\n        UNION ALL ".join(
        f"SELECT '{fields[i]}' AS field, ROUND(m{i}, 6) AS m_est,"
        f" ROUND(u{i}, 6) AS u_est, ROUND(p, 6) AS match_prior FROM {last}"
        for i in (1, 2, 3)
    )
    return f"""
        WITH pairs AS (
            SELECT
                CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g1,
                CASE WHEN ABS(a.c_acctbal - b.c_acctbal) < {FS_BAL_EPS}
                     THEN 1 ELSE 0 END AS g2,
                CASE WHEN a.c_custkey % {FS_KEY_MOD} = b.c_custkey % {FS_KEY_MOD}
                     THEN 1 ELSE 0 END AS g3
            FROM customer a
            JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        ), pat AS (
            SELECT g1, g2, g3, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3
        ), {body}
        {sel}
    """


ORACLES = {
    "x237_kneser_ney": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), bg AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
            FROM toks, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2
        ), bgc AS (
            SELECT bg, COUNT(*) AS c12,
                   string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2
            FROM bg GROUP BY bg
        ), ctx AS (
            SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1_fwd FROM bgc GROUP BY w1
        ), cont AS (
            SELECT w2, COUNT(*) AS n1_rev FROM bgc GROUP BY w2
        ), btypes AS (
            SELECT COUNT(*) AS b_types FROM bgc
        ), model AS (
            SELECT bgc.bg,
                   ln((c12 - {KN_D}) / c1
                      + {KN_D} * n1_fwd / c1 * n1_rev / b_types) AS lp
            FROM bgc JOIN ctx USING (w1) JOIN cont USING (w2)
            CROSS JOIN btypes
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(lp), 6) AS avg_kn_logp
        FROM bg JOIN model USING (bg)
        GROUP BY doc_id
    """,
    "x238_holt_smoothing": f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, SUM(value) AS y
            FROM events GROUP BY 1, 2
        ), ord AS (
            SELECT event_type, y,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY day
                   ) AS t
            FROM daily
        ), nn AS (
            SELECT event_type, MAX(t) AS n_days FROM ord GROUP BY 1
        ), hw(event_type, k, l, b, sse) AS (
            SELECT a.event_type, CAST(2 AS BIGINT), a.y, b.y - a.y,
                   CAST(0.0 AS DOUBLE)
            FROM ord a JOIN ord b ON a.event_type = b.event_type AND b.t = 2
            WHERE a.t = 1
            UNION ALL
            SELECT hw.event_type, hw.k + 1,
                   {HW_ALPHA} * o.y + (1 - {HW_ALPHA}) * (hw.l + hw.b),
                   {HW_BETA} * ({HW_ALPHA} * o.y
                                + (1 - {HW_ALPHA}) * (hw.l + hw.b) - hw.l)
                       + (1 - {HW_BETA}) * hw.b,
                   hw.sse + (o.y - (hw.l + hw.b)) * (o.y - (hw.l + hw.b))
            FROM hw JOIN ord o
              ON o.event_type = hw.event_type AND o.t = hw.k
        )
        SELECT hw.event_type, CAST(nn.n_days AS INTEGER) AS n_days,
               ROUND(hw.l, 6) AS level, ROUND(hw.b, 6) AS trend,
               ROUND(hw.l + hw.b, 6) AS forecast_next,
               ROUND(sqrt(hw.sse / (nn.n_days - 1)), 6) AS rmse
        FROM hw JOIN nn USING (event_type)
        WHERE hw.k = nn.n_days + 1
    """,
    "x239_label_propagation": _lpa_oracle(),
    "x240_l_diversity": f"""
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / {LDIV_BAND})
                                        AS BIGINT)) AS BIGINT) AS l,
               COUNT(*) >= {LDIV_K} AS k_anon_ok,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / {LDIV_BAND})
                                   AS BIGINT)) >= {LDIV_L} AS l_diverse_ok
        FROM customer GROUP BY 1, 2
    """,
    "x241_greedy_wordpiece": f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), tok AS (
            SELECT doc_id, u.w AS w FROM toks, UNNEST(t) AS u(w)
        ), wordc AS (
            SELECT w, COUNT(*) AS wc FROM tok WHERE len(w) >= 1 GROUP BY w
        ), grams AS (
            SELECT substr(w, CAST(i AS INTEGER), CAST(n AS INTEGER)) AS piece,
                   wc
            FROM wordc,
                 UNNEST(range(2, {WP_MAX_PIECE} + 1)) AS ns(n),
                 UNNEST(range(1, len(w) - n + 2)) AS u(i)
            WHERE len(w) >= n
        ), top AS (
            SELECT piece FROM (
                SELECT piece,
                       ROW_NUMBER() OVER (
                           ORDER BY SUM(wc) DESC, piece
                       ) AS rn
                FROM grams GROUP BY piece
            ) WHERE rn <= {WP_TOP_NGRAMS}
        ), singles AS (
            SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS piece
            FROM wordc, UNNEST(range(1, len(w) + 1)) AS u(i)
        ), vocab AS (
            SELECT piece FROM singles UNION SELECT piece FROM top
        ), pos_len AS (
            SELECT w, i AS p, n AS plen,
                   substr(w, CAST(i AS INTEGER), CAST(n AS INTEGER)) AS piece
            FROM wordc,
                 UNNEST(range(1, len(w) + 1)) AS u(i),
                 UNNEST(range(1, {WP_MAX_PIECE} + 1)) AS ns(n)
            WHERE i + n - 1 <= len(w)
        ), bl AS (
            SELECT w, p, MAX(plen) AS bl
            FROM pos_len JOIN vocab USING (piece) GROUP BY w, p
        ), blarr AS (
            SELECT w, list(bl ORDER BY p) AS bls FROM bl GROUP BY w
        ), walk(w, bls, pos, cnt) AS (
            SELECT w, bls, CAST(1 AS BIGINT), 0 FROM blarr
            UNION ALL
            SELECT w, bls, pos + bls[CAST(pos AS INTEGER)], cnt + 1
            FROM walk WHERE pos <= len(bls)
        ), pieces AS (
            SELECT w, MAX(cnt) AS pieces FROM walk GROUP BY w
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(pieces) AS BIGINT) AS n_pieces,
               ROUND(SUM(pieces) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
        FROM tok JOIN pieces USING (w)
        GROUP BY doc_id
    """,
    "x242_mcnemar": f"""
        WITH f AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
                   CASE WHEN n_chars >= {MCN_LEN_THRESHOLD} THEN 1 ELSE 0 END
                       AS pa,
                   CASE WHEN list_contains(string_split(trim(text), ' '),
                                           '{MCN_MARKER}')
                        THEN 1 ELSE 0 END AS pb
            FROM documents
        ), g AS (
            SELECT CASE WHEN pa = truth THEN 1 ELSE 0 END AS ac,
                   CASE WHEN pb = truth THEN 1 ELSE 0 END AS bc
            FROM f
        ), agg AS (
            SELECT COUNT(*) AS n,
                   SUM(ac * bc) AS n_both,
                   SUM(ac * (1 - bc)) AS n_a_only,
                   SUM((1 - ac) * bc) AS n_b_only,
                   SUM((1 - ac) * (1 - bc)) AS n_neither
            FROM g
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n_both AS BIGINT) AS n_both,
               CAST(n_a_only AS BIGINT) AS n_a_only,
               CAST(n_b_only AS BIGINT) AS n_b_only,
               CAST(n_neither AS BIGINT) AS n_neither,
               ROUND((n_both + n_a_only) / CAST(n AS DOUBLE), 6) AS acc_a,
               ROUND((n_both + n_b_only) / CAST(n AS DOUBLE), 6) AS acc_b,
               ROUND(CASE WHEN n_a_only + n_b_only > 0 THEN
                   CAST((ABS(n_a_only - n_b_only) - 1)
                        * (ABS(n_a_only - n_b_only) - 1) AS DOUBLE)
                   / (n_a_only + n_b_only)
               ELSE 0.0 END, 6) AS mcnemar_chi2
        FROM agg
    """,
    "x243_fellegi_sunter": _fs_oracle(),
    "x244_naive_bayes": f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(trim(text), ' ') AS t
            FROM documents
        ), train AS (
            SELECT * FROM toks WHERE doc_id % {NB_SPLIT_MOD} <> 0
        ), test AS (
            SELECT * FROM toks WHERE doc_id % {NB_SPLIT_MOD} = 0
        ), ttok AS (
            SELECT lang AS cls, u.w AS w FROM train, UNNEST(t) AS u(w)
        ), ctc AS (
            SELECT cls, w, COUNT(*) AS c FROM ttok GROUP BY 1, 2
        ), ntot AS (
            SELECT cls, COUNT(*) AS nc FROM ttok GROUP BY 1
        ), vocab AS (
            SELECT DISTINCT w FROM ttok
        ), vsize AS (
            SELECT COUNT(*) AS v FROM vocab
        ), priors AS (
            SELECT lang AS cls,
                   ln(COUNT(*) / CAST((SELECT COUNT(*) FROM train) AS DOUBLE))
                       AS lp0
            FROM train GROUP BY 1
        ), grid AS (
            SELECT ntot.cls, vocab.w,
                   ln((COALESCE(ctc.c, 0) + 1)
                      / CAST(ntot.nc + vsize.v AS DOUBLE)) AS lp
            FROM vocab CROSS JOIN ntot
            LEFT JOIN ctc ON ctc.cls = ntot.cls AND ctc.w = vocab.w
            CROSS JOIN vsize
        ), stok AS (
            SELECT doc_id, lang, u.w AS w FROM test, UNNEST(t) AS u(w)
        ), scored AS (
            SELECT doc_id, lang, cls, SUM(lp) AS s
            FROM stok JOIN grid USING (w) GROUP BY 1, 2, 3
        ), sc2 AS (
            SELECT doc_id, lang, scored.cls AS cls, s + lp0 AS score
            FROM scored JOIN priors ON scored.cls = priors.cls
        ), pred AS (
            SELECT doc_id, lang, cls AS pred_lang FROM (
                SELECT doc_id, lang, cls,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, cls
                       ) AS rn
                FROM sc2
            ) WHERE rn = 1
        )
        SELECT lang AS true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    """,
    "x245_chi2_tokens": f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(trim(text), ' ') AS t
            FROM documents
        ), pres AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
                   u.w AS w
            FROM toks, UNNEST(t) AS u(w)
        ), tots AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
            FROM documents
        ), cells AS (
            SELECT w, SUM(is_en) AS a, SUM(1 - is_en) AS b
            FROM pres GROUP BY w
        ), sc AS (
            SELECT w, a, b, n_en - a AS c, n_docs - n_en - b AS d, n_docs
            FROM cells CROSS JOIN tots
        )
        SELECT w, CAST(a + b AS BIGINT) AS doc_freq,
               ROUND(
                   CAST(n_docs AS DOUBLE)
                   * (CAST(a * d - b * c AS DOUBLE)
                      * CAST(a * d - b * c AS DOUBLE))
                   / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)),
                   6) AS chi2
        FROM sc
        WHERE a + c > 0 AND b + d > 0 AND c + d > 0
        QUALIFY ROW_NUMBER() OVER (ORDER BY chi2 DESC, w) <= {CHI2_TOP_K}
    """,
    "x246_snips_offpolicy": f"""
        WITH base AS (
            SELECT user_id % {IPS_SEGMENTS} AS segment, event_type, value
            FROM events
        ), nact AS (
            SELECT COUNT(DISTINCT event_type) AS n_actions FROM base
        ), segtot AS (
            SELECT segment, COUNT(*) AS n_seg FROM base GROUP BY 1
        ), prop AS (
            SELECT segment, event_type, COUNT(*) AS n_sa
            FROM base GROUP BY 1, 2
        ), propj AS (
            SELECT prop.segment, prop.event_type,
                   prop.n_sa / CAST(segtot.n_seg AS DOUBLE) AS phat
            FROM prop JOIN segtot USING (segment)
        ), wtd AS (
            SELECT base.segment, base.value,
                   (1.0 / nact.n_actions) / propj.phat AS wt
            FROM base
            JOIN propj ON base.segment = propj.segment
                      AND base.event_type = propj.event_type
            CROSS JOIN nact
        )
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(wt * value), 6) AS ips_value,
               ROUND(SUM(wt * value) / SUM(wt), 6) AS snips_value
        FROM wtd GROUP BY segment
    """,
}


# ---------------------------------------------------------------------------
# x247–x251 — second widening batch: TextRank, Welch, CUSUM, PAV, matching
# ---------------------------------------------------------------------------

#: x247 — TextRank (Mihalcea & Tarau, EMNLP 2004): PageRank over the
#: adjacent-token co-occurrence graph; fixed 3 damped iterations.
TR_TOP_K = 20
#: x248 — Welch unequal-variance t-test baseline group.
WELCH_BASELINE = "view"
#: x249 — CUSUM (Page 1954): calibration window length, slack k=KS·σ,
#: decision threshold h=HS·σ; every statistic pinned to the 6dp grid.
CUSUM_CAL_N = 10
CUSUM_KS = 0.5
CUSUM_HS = 4.0
#: x250 — isotonic regression via the minimax closed form
#: fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k])  (Barlow et al. 1972);
#: predictor = n_chars bucket, outcome = lang=='en'.
ISO_BIN_W = 100
#: x251 — 1:1 nearest-neighbor propensity matching with replacement
#: (Rosenbaum & Rubin 1983); caliper on the score difference, and the
#: band join is BUCKETED (floor(score/caliper) ± 1) so it stays an
#: equi-join at scale.
PSM_CALIPER = 0.05
PSM_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
PSM_TREAT_MAX_SRC = 10


def x247_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction: unweighted undirected graph over
    corpus-DISTINCT adjacent token pairs, 3 damped PageRank iterations
    (operators/graph.py:pagerank_fixed, 6dp-pinned per iteration), top-20
    tokens by rank.

    Scale shape: the pair stream explodes off the token arrays once and
    DISTINCTs down to the vocabulary-bounded edge relation before any
    iteration; the rank loop then runs on |vocab| rows — corpus size
    only ever affects the one extraction pass."""
    from social_warner_spark.operators.graph import pagerank_fixed

    d = T(spark, sf_dir, "documents")
    staged = d.select(tokens(F.col("text")).alias("_toks"))
    pairs = (
        staged.select(
            F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("bg")
        )
        .select(
            F.split("bg", " ").getItem(0).alias("src"),
            F.split("bg", " ").getItem(1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = pagerank_fixed(nodes, edges, iters=3)
    return (
        ranks.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("pr"), F.asc("node"))),
        )
        .where(F.col("rn") <= TR_TOP_K)
        .select(F.col("node").alias("word"), "pr", "rn")
    )


def x248_welch_ttest(spark, sf_dir):
    """Welch unequal-variance t-test of every event type's value
    distribution against the 'view' baseline: t statistic and
    Welch-Satterthwaite degrees of freedom — the metrics-review gate for
    "is this event family actually shifted".

    One map-side-combined per-type moment aggregation; the baseline row
    is a broadcast 1-row relation crossed onto the other types."""
    ev = T(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    base = stats.where(F.col("event_type") == WELCH_BASELINE).select(
        F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
    )
    se2 = F.col("v") / F.col("n") + F.col("v0") / F.col("n0")
    df = (se2 * se2) / (
        (F.col("v") / F.col("n")) * (F.col("v") / F.col("n"))
        / (F.col("n") - 1)
        + (F.col("v0") / F.col("n0")) * (F.col("v0") / F.col("n0"))
        / (F.col("n0") - 1)
    )
    return (
        stats.where(F.col("event_type") != WELCH_BASELINE)
        .crossJoin(F.broadcast(base))
        .select(
            "event_type",
            "n",
            r6(F.col("m") - F.col("m0")).alias("mean_diff"),
            r6((F.col("m") - F.col("m0")) / F.sqrt(se2)).alias("t_stat"),
            r6(df).alias("welch_df"),
        )
    )


def x249_cusum_drift(spark, sf_dir):
    """Two-sided CUSUM drift monitor per event type over the daily-mean
    series: the first CUSUM_CAL_N days calibrate (mu, sigma); the rest
    fold through S+ = max(0, S+ + (x-mu-k)) / S- = max(0, S- + (mu-x-k))
    with k=0.5sigma, alarming when either side exceeds h=4sigma.  Every
    daily mean, mu, sigma and running statistic is rounded to 6dp in
    BOTH engines so the recursion stays on one float grid (the x39
    per-iteration-rounding discipline).

    Scale: one shuffle for the daily grid; the recursion is a narrow
    per-key F.aggregate fold — no per-day jobs."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("y"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    ys = F.transform(F.col("s"), lambda e: e["y"])
    cal = F.slice(ys, 1, CUSUM_CAL_N)
    # mu is Σ(6dp)/10 — an exact 7dp rational, tie-nudged like the fold.
    mu = F.round(
        F.aggregate(cal, F.lit(0.0), lambda a, y: a + y) / CUSUM_CAL_N
        + F.lit(1e-9),
        6,
    )
    sigma = F.round(
        F.sqrt(
            F.aggregate(cal, F.lit(0.0), lambda a, y: a + (y - mu) * (y - mu))
            / (CUSUM_CAL_N - 1)
        ),
        6,
    )
    staged = series.where(F.size("s") > CUSUM_CAL_N).select(
        "event_type",
        F.size("s").alias("n_days"),
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.slice(ys, CUSUM_CAL_N + 1, F.size(ys) - CUSUM_CAL_N).alias("ev"),
    )
    k = CUSUM_KS * F.col("sigma")
    h = CUSUM_HS * F.col("sigma")
    def _step(acc, i):
        # r6t-nudged fold rounds (r08): the update terms are exact
        # 7dp rationals (y/mu 6dp, k = 0.5·sigma ends in 5), so every
        # round can land EXACTLY on the 6dp half-grid where the two
        # engines' float paths disagree (the sf0.001 sweep caught
        # max_sp 34.9337465 rendering ...47/...46).  The 1e-9 nudge
        # (mirrored in the oracle's recursive CTE) resolves every tie
        # upward in both engines — the x39 per-iteration-rounding
        # discipline, tie-hardened.
        y = F.element_at(F.col("ev"), i)
        sp_new = F.round(
            F.greatest(F.lit(0.0), acc["sp"] + (y - F.col("mu") - k))
            + F.lit(1e-9),
            6,
        )
        sn_new = F.round(
            F.greatest(F.lit(0.0), acc["sn"] + (F.col("mu") - y - k))
            + F.lit(1e-9),
            6,
        )
        alarm = (sp_new > h) | (sn_new > h)
        return F.struct(
            sp_new.alias("sp"),
            sn_new.alias("sn"),
            (acc["alarms"] + F.when(alarm, 1).otherwise(0)).alias("alarms"),
            F.when((acc["first_idx"] == 0) & alarm, i)
            .otherwise(acc["first_idx"])
            .alias("first_idx"),
            F.greatest(acc["max_sp"], sp_new).alias("max_sp"),
        )

    st = F.aggregate(
        F.expr("sequence(1, size(ev))"),
        F.struct(
            F.lit(0.0).alias("sp"),
            F.lit(0.0).alias("sn"),
            F.lit(0).alias("alarms"),
            F.lit(0).alias("first_idx"),
            F.lit(0.0).alias("max_sp"),
        ),
        _step,
    )
    return staged.select(
        "event_type",
        "n_days",
        F.col("mu"),
        F.col("sigma"),
        st["alarms"].alias("n_alarm_days"),
        st["first_idx"].alias("first_alarm_idx"),
        r6(st["max_sp"]).alias("max_sp"),
    )


def x250_isotonic_calibration(spark, sf_dir):
    """Isotonic regression (PAV) of P(lang='en') against the n_chars
    bucket, via the minimax closed form fitted_i = max_{j<=i} min_{k>=i}
    mean(y[j..k]) over cumulative integer sums — the monotone
    recalibration step applied to quality/confidence scores before they
    gate data selection.

    The bin relation is bounded (|range(n_chars)|/100 rows), so the
    closed form's (j, i, k) triple space is a CONSTANT-sized three-way
    self-join, not a corpus-scale one; the corpus contributes one
    map-side-combined bucket aggregation.  Integer prefix sums keep
    every mean an exact int/int division — both engines land on
    identical doubles, no rounding inside the min/max lattice."""
    d = T(spark, sf_dir, "documents")
    bins = (
        d.groupBy(
            (F.floor(F.col("n_chars") / ISO_BIN_W)).alias("xb")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("lang") == "en").cast("long")).alias("s"),
        )
    )
    w = Window.orderBy("xb").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "xb",
        "n",
        "s",
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
    )
    j = cum.select(
        F.col("xb").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn_jm1"),
        (F.col("cs") - F.col("s")).alias("cs_jm1"),
    )
    k = cum.select(
        F.col("xb").alias("kb"), F.col("cn").alias("cn_k"), F.col("cs").alias("cs_k")
    )
    seg = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("cs_k") - F.col("cs_jm1"))
            / (F.col("cn_k") - F.col("cn_jm1"))
        ).alias("segmean"),
    )
    i = cum.select(F.col("xb").alias("ib"))
    inner = (
        seg.join(i, (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")))
        .groupBy("ib", "jb")
        .agg(F.min("segmean").alias("mn"))
    )
    fitted = inner.groupBy("ib").agg(F.max("mn").alias("fit"))
    return (
        cum.join(fitted, cum["xb"] == fitted["ib"])
        .select(
            "xb",
            "n",
            r6(F.col("s") / F.col("n")).alias("raw_rate"),
            r6(F.col("fit")).alias("fitted_rate"),
        )
    )


def x251_propensity_matching(spark, sf_dir):
    """ATT via 1:1 nearest-neighbor propensity matching WITH replacement
    under a caliper: treatment = doc from sources src0..src9, score =
    stopword-token ratio, outcome = n_chars.  Each treated doc matches
    the control with the smallest |score difference| <= 0.05 (ties ->
    min control doc_id); output is one row: matched/unmatched counts and
    the ATT estimate.

    Scale shape: the caliper band join is BUCKETED — controls land in
    floor(score/caliper) buckets, each treated doc probes its own and
    the two adjacent buckets (a 3-row explode of the TREATED side only),
    so the match is an equi-join + min_by, never an all-pairs score
    comparison (the x8 multi-probe pattern applied to matching)."""
    d = T(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in PSM_STOPWORDS])
    staged = d.select(
        "doc_id",
        "n_chars",
        (
            F.substring(F.col("source"), 4, 10).cast("int") < PSM_TREAT_MAX_SRC
        ).alias("treated"),
        tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id",
        "n_chars",
        "treated",
        (
            F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(stop, t)))
            / F.size(F.col("_toks"))
        ).alias("score"),
    )
    ctrl = staged.where(~F.col("treated")).select(
        F.floor(F.col("score") / PSM_CALIPER).alias("bkt"),
        F.col("doc_id").alias("c_id"),
        F.col("score").alias("c_score"),
        F.col("n_chars").alias("c_y"),
    )
    probes = (
        staged.where(F.col("treated"))
        .select(
            "doc_id",
            F.col("score").alias("t_score"),
            F.col("n_chars").alias("t_y"),
            F.explode(
                F.array(
                    F.floor(F.col("score") / PSM_CALIPER) - 1,
                    F.floor(F.col("score") / PSM_CALIPER),
                    F.floor(F.col("score") / PSM_CALIPER) + 1,
                )
            ).alias("bkt"),
        )
    )
    matched = (
        probes.join(ctrl, "bkt")
        .where(F.abs(F.col("t_score") - F.col("c_score")) <= PSM_CALIPER)
        .groupBy("doc_id", "t_y")
        .agg(
            F.min_by(
                F.col("c_y"),
                F.struct(
                    F.abs(F.col("t_score") - F.col("c_score")), F.col("c_id")
                ),
            ).alias("m_y")
        )
    )
    n_treated = staged.where(F.col("treated")).agg(
        F.count("*").alias("n_treated")
    )
    return (
        matched.agg(
            F.count("*").alias("n_matched"),
            r6(F.avg(F.col("t_y") - F.col("m_y"))).alias("att"),
        )
        .crossJoin(F.broadcast(n_treated))
        .select(
            "n_treated",
            "n_matched",
            (F.col("n_treated") - F.col("n_matched")).alias("n_unmatched"),
            "att",
        )
    )


_TR_ITER_TMPL = """
    , r{k} AS (
        SELECT n.node,
               ROUND(CAST(0.15 AS DOUBLE)
                     + CAST(0.85 AS DOUBLE)
                       * COALESCE(SUM(p.pr / o.deg), CAST(0.0 AS DOUBLE)),
                     6) AS pr
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r{prev} p ON p.node = e.src
        LEFT JOIN outdeg o ON o.src = e.src
        GROUP BY n.node
    )"""


def _textrank_oracle() -> str:
    iters = "".join(
        _TR_ITER_TMPL.format(k=k, prev=k - 1) for k in range(1, 4)
    )
    return f"""
        WITH toks AS (
            SELECT string_split(trim(text), ' ') AS t FROM documents
        ), pr0 AS (
            SELECT DISTINCT t[i] AS src, t[i+1] AS dst
            FROM toks, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2 AND t[i] <> t[i+1]
        ), edges AS (
            SELECT src, dst FROM pr0
            UNION
            SELECT dst AS src, src AS dst FROM pr0
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), outdeg AS (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ), r0 AS (
            SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
        ){iters}
        SELECT node AS word, pr, rn FROM (
            SELECT node, pr,
                   ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rn
            FROM r3
        ) WHERE rn <= {TR_TOP_K}
    """


ORACLES.update({
    "x247_textrank_keywords": _textrank_oracle(),
    "x248_welch_ttest": f"""
        WITH stats AS (
            SELECT event_type, COUNT(*) AS n, AVG(value) AS m,
                   var_samp(value) AS v
            FROM events GROUP BY 1
        ), base AS (
            SELECT n AS n0, m AS m0, v AS v0 FROM stats
            WHERE event_type = '{WELCH_BASELINE}'
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               ROUND(m - m0, 6) AS mean_diff,
               ROUND((m - m0) / sqrt(v / n + v0 / n0), 6) AS t_stat,
               ROUND((v / n + v0 / n0) * (v / n + v0 / n0)
                     / ((v / n) * (v / n) / (n - 1)
                        + (v0 / n0) * (v0 / n0) / (n0 - 1)), 6) AS welch_df
        FROM stats CROSS JOIN base
        WHERE event_type <> '{WELCH_BASELINE}'
    """,
    "x249_cusum_drift": f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   ROUND(AVG(value), 6) AS y
            FROM events GROUP BY 1, 2
        ), ord AS (
            SELECT event_type, y,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY day
                   ) AS t
            FROM daily
        ), nn AS (
            SELECT event_type, MAX(t) AS n_days FROM ord GROUP BY 1
        ), cal AS (
            -- mu is tie-nudged EXACTLY like the Spark side (+1e-9 before
            -- ROUND): Sum(6dp)/10 is an exact 7dp rational, so a half-grid
            -- mu would otherwise round differently per engine (ADVICE r08;
            -- the r8 sweep nudged the fold but missed mu).
            SELECT event_type,
                   ROUND(SUM(y) / {CUSUM_CAL_N} + 1e-9, 6) AS mu
            FROM ord WHERE t <= {CUSUM_CAL_N} GROUP BY 1
        ), sg AS (
            SELECT o.event_type,
                   ROUND(sqrt(SUM((y - mu) * (y - mu))
                              / ({CUSUM_CAL_N} - 1)), 6) AS sigma
            FROM ord o JOIN cal USING (event_type)
            WHERE t <= {CUSUM_CAL_N}
            GROUP BY 1
        ), params AS (
            SELECT cal.event_type, mu, sigma,
                   {CUSUM_KS} * sigma AS k, {CUSUM_HS} * sigma AS h
            FROM cal JOIN sg ON cal.event_type = sg.event_type
        ), cs(event_type, t, sp, sn, alarms, first_idx, max_sp) AS (
            SELECT event_type, CAST({CUSUM_CAL_N} + 1 AS BIGINT),
                   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                   0, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
            FROM params
            UNION ALL
            SELECT cs.event_type, cs.t + 1,
                   ROUND(GREATEST(0.0, cs.sp + (o.y - p.mu - p.k)) + 1e-9, 6),
                   ROUND(GREATEST(0.0, cs.sn + (p.mu - o.y - p.k)) + 1e-9, 6),
                   cs.alarms + CASE WHEN
                       ROUND(GREATEST(0.0, cs.sp + (o.y - p.mu - p.k)) + 1e-9, 6) > p.h
                       OR ROUND(GREATEST(0.0, cs.sn + (p.mu - o.y - p.k)) + 1e-9, 6) > p.h
                   THEN 1 ELSE 0 END,
                   CASE WHEN cs.first_idx = 0 AND (
                       ROUND(GREATEST(0.0, cs.sp + (o.y - p.mu - p.k)) + 1e-9, 6) > p.h
                       OR ROUND(GREATEST(0.0, cs.sn + (p.mu - o.y - p.k)) + 1e-9, 6) > p.h
                   ) THEN cs.t - {CUSUM_CAL_N} ELSE cs.first_idx END,
                   GREATEST(cs.max_sp,
                            ROUND(GREATEST(0.0, cs.sp + (o.y - p.mu - p.k)) + 1e-9, 6))
            FROM cs
            JOIN ord o ON o.event_type = cs.event_type AND o.t = cs.t
            JOIN params p ON p.event_type = cs.event_type
        )
        SELECT cs.event_type, CAST(nn.n_days AS INTEGER) AS n_days,
               p.mu AS mu, p.sigma AS sigma,
               CAST(cs.alarms AS INTEGER) AS n_alarm_days,
               CAST(cs.first_idx AS INTEGER) AS first_alarm_idx,
               ROUND(cs.max_sp, 6) AS max_sp
        FROM cs
        JOIN nn USING (event_type)
        JOIN params p ON p.event_type = cs.event_type
        WHERE cs.t = nn.n_days + 1
    """,
    "x250_isotonic_calibration": f"""
        WITH bins AS (
            SELECT CAST(FLOOR(n_chars / {ISO_BIN_W}) AS BIGINT) AS xb,
                   COUNT(*) AS n,
                   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS s
            FROM documents GROUP BY 1
        ), cum AS (
            SELECT xb, n, s,
                   SUM(n) OVER (ORDER BY xb) AS cn,
                   SUM(s) OVER (ORDER BY xb) AS cs
            FROM bins
        ), j AS (
            SELECT xb AS jb, cn - n AS cn_jm1, cs - s AS cs_jm1 FROM cum
        ), k AS (
            SELECT xb AS kb, cn AS cn_k, cs AS cs_k FROM cum
        ), seg AS (
            SELECT jb, kb,
                   (cs_k - cs_jm1) / CAST(cn_k - cn_jm1 AS DOUBLE) AS segmean
            FROM j JOIN k ON jb <= kb
        ), inner_ AS (
            SELECT i.xb AS ib, seg.jb, MIN(segmean) AS mn
            FROM seg JOIN cum i ON seg.jb <= i.xb AND seg.kb >= i.xb
            GROUP BY 1, 2
        ), fitted AS (
            SELECT ib, MAX(mn) AS fit FROM inner_ GROUP BY 1
        )
        SELECT cum.xb, CAST(cum.n AS BIGINT) AS n,
               ROUND(cum.s / CAST(cum.n AS DOUBLE), 6) AS raw_rate,
               ROUND(fit, 6) AS fitted_rate
        FROM cum JOIN fitted ON cum.xb = fitted.ib
    """,
    "x251_propensity_matching": f"""
        WITH staged AS (
            SELECT doc_id, n_chars,
                   CAST(substr(source, 4) AS INTEGER)
                       < {PSM_TREAT_MAX_SRC} AS treated,
                   len(list_filter(string_split(trim(text), ' '),
                       w -> list_contains(
                           [{", ".join("'" + w + "'" for w in PSM_STOPWORDS)}],
                           w)))
                   / CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
                       AS score
            FROM documents
        ), tr AS (
            SELECT doc_id, score AS t_score, n_chars AS t_y
            FROM staged WHERE treated
        ), ct AS (
            SELECT doc_id AS c_id, score AS c_score, n_chars AS c_y
            FROM staged WHERE NOT treated
        ), m AS (
            SELECT doc_id, t_y, c_y,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY ABS(t_score - c_score), c_id
                   ) AS rn
            FROM tr JOIN ct ON ABS(t_score - c_score) <= {PSM_CALIPER}
        ), mm AS (
            SELECT doc_id, t_y, c_y FROM m WHERE rn = 1
        ), ag AS (
            SELECT COUNT(*) AS n_matched,
                   ROUND(AVG(t_y - c_y), 6) AS att
            FROM mm
        ), nt AS (
            SELECT COUNT(*) AS n_treated FROM tr
        )
        SELECT CAST(n_treated AS BIGINT) AS n_treated,
               CAST(n_matched AS BIGINT) AS n_matched,
               CAST(n_treated - n_matched AS BIGINT) AS n_unmatched,
               att
        FROM ag CROSS JOIN nt
    """,
})

QUERIES.update({
    "x247_textrank_keywords": x247_textrank_keywords,
    "x248_welch_ttest": x248_welch_ttest,
    "x249_cusum_drift": x249_cusum_drift,
    "x250_isotonic_calibration": x250_isotonic_calibration,
    "x251_propensity_matching": x251_propensity_matching,
})


# ---------------------------------------------------------------------------
# x252–x256 — third widening batch: IR scoring/eval + inequality + B³
# ---------------------------------------------------------------------------

#: x252 — Dirichlet query-likelihood smoothing (Zhai & Lafferty, SIGIR
#: 2001); same fixed query as x35's BM25 so the two models are
#: comparable (and x253 can measure their rank agreement).
DQL_TERMS = ("spark", "hash", "window")
DQL_MU = 200.0
DQL_TOPK = 20
#: x253 — rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010):
#: truncated-at-k form with persistence p.
RBO_P = 0.9
RBO_K = 20
#: x255 — rank cutoff for the discounted-gain recommender metric.
NDCG_K = 10
#: x256 — near-dup threshold must match x27 so the system clustering
#: under evaluation is the one the dedup pipeline actually uses.
B3_THRESHOLD = 0.5


def _dql_ranked(d):
    """(doc_id, score, rk) for the Dirichlet query-likelihood model:
    score = sum_q ln((tf + mu*cf/ctot) / (dl + mu)) — every doc scores
    (smoothing), top-k kept."""
    def _is(term):
        # a 2-arg lambda (e.g. a `term=term` default) would make F.filter
        # pass the element INDEX as the second argument — build unary
        # predicates via a closure (same trap as operators/search.py).
        return lambda t: t == term

    staged = d.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").cast("double").alias("dl"),
        *[
            F.size(F.filter(F.col("_toks"), _is(term)))
            .cast("double")
            .alias(f"tf_{i}")
            for i, term in enumerate(DQL_TERMS)
        ],
    )
    cstats = staged.agg(
        F.sum("dl").alias("ctot"),
        *[F.sum(f"tf_{i}").alias(f"cf_{i}") for i in range(len(DQL_TERMS))],
    )
    score = None
    for i in range(len(DQL_TERMS)):
        term_lp = F.log(
            (F.col(f"tf_{i}") + DQL_MU * F.col(f"cf_{i}") / F.col("ctot"))
            / (F.col("dl") + DQL_MU)
        )
        score = term_lp if score is None else score + term_lp
    scored = staged.crossJoin(F.broadcast(cstats)).select(
        "doc_id", F.round(score, 6).alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DQL_TOPK)
        .withColumn("rk", F.row_number().over(w))
    )


def x252_dirichlet_ql(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (the language-model
    alternative to x35's Okapi BM25): top-20 docs for the same fixed
    query under score(d) = sum_q ln((tf(q,d) + mu*P(q|C)) / (|d| + mu)).

    Scale: tf/dl are narrow `size(filter())` maps (no explode); the
    corpus language model is a broadcast 1-row relation; the top-k is
    orderBy+limit (TakeOrderedAndProject per-partition heaps)."""
    return _dql_ranked(T(spark, sf_dir, "documents")).select(
        "doc_id", "score", "rk"
    )


def x253_rbo_rank_agreement(spark, sf_dir):
    """Rank-biased overlap (truncated at k=20, p=0.9) between the BM25
    and Dirichlet-QL rankings of the same query: RBO = (1-p) *
    sum_d p^(d-1) * |A_d ∩ B_d| / d — the standard top-weighted measure
    of how much two retrieval models actually agree.

    Both rankings are k-row relations before any RBO algebra, so the
    depth cross join is k x k bounded; corpus cost is the two scoring
    passes themselves."""
    from social_warner_spark.operators.search import bm25_scores

    d = T(spark, sf_dir, "documents")
    wa = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    a = (
        bm25_scores(d, list(DQL_TERMS))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RBO_K)
        .withColumn("ra", F.row_number().over(wa))
        .select("doc_id", "ra")
    )
    b = _dql_ranked(d).select("doc_id", F.col("rk").alias("rb"))
    both = a.join(b, "doc_id").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("dmin")
    )
    depths = spark.range(1, RBO_K + 1).select(F.col("id").alias("dep"))
    xd = (
        both.join(F.broadcast(depths), F.col("dmin") <= F.col("dep"))
        .groupBy("dep")
        .agg(F.count("*").alias("xd"))
    )
    rbo = xd.agg(
        F.round(
            (1 - RBO_P)
            * F.sum(
                F.pow(F.lit(RBO_P), F.col("dep") - 1)
                * F.col("xd")
                / F.col("dep")
            ),
            6,
        ).alias("rbo")
    )
    ov = both.agg(F.count("*").alias("overlap_at_k"))
    return (
        rbo.crossJoin(F.broadcast(ov))
        .select(
            "overlap_at_k",
            r6(F.col("overlap_at_k") / F.lit(float(RBO_K))).alias(
                "agreement_at_k"
            ),
            "rbo",
        )
    )


def x254_gini_sources(spark, sf_dir):
    """Gini coefficient of per-source token-count contribution — the
    inequality readout ("is the corpus dominated by two crawls?") that
    complements x136's Pareto concentration: with sources sorted
    ascending by contribution, G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n.

    The rank window runs on the |sources|-row aggregate (bounded,
    single-partition by design); the corpus contributes one
    map-side-combined token-count aggregation."""
    d = T(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("toks")
    )
    ranked = per_src.withColumn(
        "i", F.row_number().over(Window.orderBy(F.asc("toks"), F.asc("source")))
    )
    return ranked.agg(
        F.count("*").alias("n_sources"),
        F.sum("toks").alias("total_tokens"),
        r6(
            2.0 * F.sum(F.col("i") * F.col("toks"))
            / (F.count("*") * F.sum("toks"))
            - (F.count("*") + 1.0) / F.count("*")
        ).alias("gini"),
        r6(F.max("toks") / F.sum("toks")).alias("top_share"),
    )


def x255_ndcg_popularity(spark, sf_dir):
    """nDCG@10 of the popularity recommender under the same
    leave-one-out protocol as x123's hit-rate: per multi-item order the
    max-partkey item is held out, popularity is computed WITHOUT the
    held-out occurrences, and the held-out item earns 1/log2(rank+1)
    when it appears in the top-10 (single relevant item → ideal DCG =
    1, so the mean discounted gain IS the nDCG).

    Popularity is a |parts| aggregate; the gain test is one broadcast
    join of the holdout relation against 10 rows."""
    li = (
        T(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    multi = (
        li.groupBy("ok")
        .agg(F.count("*").alias("_n"), F.max("pk").alias("held"))
        .where(F.col("_n") >= 2)
        .select("ok", "held")
    )
    # multi is |orders|-scaled → no broadcast hint (r05 verdict)
    train = li.join(multi, "ok", "left").where(
        F.col("held").isNull() | (F.col("pk") != F.col("held"))
    )
    # r05: distributed top-k first (orderBy+limit), rank over k rows —
    # no single-partition sort of |parts|.
    pop = (
        train.groupBy("pk")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("pk"))
        .limit(NDCG_K)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("pk"))),
        )
        .select("pk", "rk")
    )
    gains = multi.join(
        F.broadcast(pop), multi["held"] == pop["pk"], "left"
    ).select((1.0 / F.log2(F.col("rk") + 1.0)).alias("g"))
    return gains.agg(
        F.count("*").alias("n_eval"),
        F.count("g").alias("hits_at_k"),
        r6(F.sum(F.coalesce(F.col("g"), F.lit(0.0))) / F.count("*")).alias(
            "ndcg_at_k"
        ),
    )


def x256_bcubed_dedup_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of the
    x27 near-dup clustering (system) against exact-text duplicate groups
    (gold): per element, precision = |C(e) ∩ G(e)| / |C(e)| — summed in
    closed form over the (system, gold) contingency cells as
    sum n_sg^2 / n_s / N, which needs only the cell and cluster-size
    relations, never per-element loops.

    Scale: one join of the two label relations → cell counts; sizes are
    group-bys of each side; everything after the clustering itself is
    |clusters|-sized."""
    from social_warner_spark.operators.dedup import neardup_clusters

    d = T(spark, sf_dir, "documents")
    sysc = neardup_clusters(d, threshold=B3_THRESHOLD).select(
        "doc_id", F.col("cluster_id").alias("s")
    )
    # gold = exact-text duplicate groups; keyed by md5(text) so the
    # shuffle carries 32-byte hashes, not document bodies, and the label
    # is a window-min — no join back.
    goldc = d.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(F.col("text"))))
        .alias("g"),
    )
    from social_warner_spark.caching import register_persisted

    # lab feeds four consumers (cells, both size relations, the total) —
    # persist or the clustering upstream re-executes per consumer.
    lab = register_persisted(sysc.join(goldc, "doc_id").persist())
    cells = lab.groupBy("s", "g").agg(F.count("*").alias("n_sg"))
    ssz = lab.groupBy("s").agg(F.count("*").alias("n_s"))
    gsz = lab.groupBy("g").agg(F.count("*").alias("n_g"))
    n = lab.agg(F.count("*").alias("n_docs"))
    joined = cells.join(ssz, "s").join(gsz, "g").crossJoin(F.broadcast(n))
    agg = joined.agg(
        F.max("n_docs").alias("n_docs"),
        (
            F.sum(F.col("n_sg") * F.col("n_sg") / F.col("n_s"))
            / F.max("n_docs")
        ).alias("p"),
        (
            F.sum(F.col("n_sg") * F.col("n_sg") / F.col("n_g"))
            / F.max("n_docs")
        ).alias("r"),
    )
    return agg.select(
        "n_docs",
        r6(F.col("p")).alias("bcubed_precision"),
        r6(F.col("r")).alias("bcubed_recall"),
        r6(2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))).alias(
            "bcubed_f1"
        ),
    )


def _dql_staged_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(string_split(trim(text), ' '),"
        f" x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(DQL_TERMS)
    )
    return f"""staged AS (
            SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl,
                   {tf_cols}
            FROM documents
        )"""


def _dql_scored_sql() -> str:
    cf_cols = ", ".join(
        f"SUM(tf_{i}) AS cf_{i}" for i in range(len(DQL_TERMS))
    )
    terms = " + ".join(
        f"ln((tf_{i} + {DQL_MU} * cf_{i} / ctot) / (dl + {DQL_MU}))"
        for i in range(len(DQL_TERMS))
    )
    return f"""cstats AS (
            SELECT SUM(dl) AS ctot, {cf_cols} FROM staged
        ), qscored AS (
            SELECT doc_id, ROUND({terms}, 6) AS score FROM staged, cstats
        )"""


def _bm25_scored_sql() -> str:
    """BM25 scoring CTEs over `staged` — the exact formula of the x35
    oracle (k1=1.2, b=0.75), restated for the shared query terms."""
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df_{i}"
        for i in range(len(DQL_TERMS))
    )
    parts = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN"
        f" ROUND(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * 2.2 / (tf_{i} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),"
        f" 6) ELSE 0.0 END"
        for i in range(len(DQL_TERMS))
    )
    return f"""bstats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
                   {df_cols}
            FROM staged
        ), bscored AS (
            SELECT doc_id, ROUND({parts}, 6) AS score
            FROM staged, bstats
        )"""


#: The x27 transitive-closure CTE chain, verbatim (same shingles, same
#: threshold) — x256 evaluates exactly the clustering x27 declares.
_X27_CLUSTERS_SQL = """toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.5
        ), edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b, a FROM pairs
        ), reach(id, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.id
        ), clusters AS (
            SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
        )"""


ORACLES.update({
    "x252_dirichlet_ql": f"""
        WITH {_dql_staged_sql()}, {_dql_scored_sql()}, ranked AS (
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rk
            FROM qscored
        )
        SELECT doc_id, score, rk FROM ranked WHERE rk <= {DQL_TOPK}
    """,
    "x253_rbo_rank_agreement": f"""
        WITH {_dql_staged_sql()}, {_bm25_scored_sql()}, a AS (
            SELECT doc_id, ra FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS ra
                FROM bscored WHERE score > 0
            ) WHERE ra <= {RBO_K}
        ), {_dql_scored_sql()}, b AS (
            SELECT doc_id, rb FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
                FROM qscored
            ) WHERE rb <= {RBO_K}
        ), bothr AS (
            SELECT GREATEST(ra, rb) AS dmin FROM a JOIN b USING (doc_id)
        ), xd AS (
            SELECT dep, COUNT(*) AS xd
            FROM bothr, UNNEST(range(1, {RBO_K} + 1)) AS u(dep)
            WHERE dmin <= dep GROUP BY dep
        ), rbo AS (
            SELECT ROUND((1 - {RBO_P})
                         * SUM(POWER({RBO_P}, dep - 1) * xd / dep), 6) AS rbo
            FROM xd
        ), ov AS (
            SELECT COUNT(*) AS overlap_at_k FROM bothr
        )
        SELECT CAST(ov.overlap_at_k AS BIGINT) AS overlap_at_k,
               ROUND(ov.overlap_at_k / CAST({RBO_K} AS DOUBLE), 6)
                   AS agreement_at_k,
               rbo.rbo
        FROM rbo CROSS JOIN ov
    """,
    "x254_gini_sources": """
        WITH per_src AS (
            SELECT source,
                   SUM(len(string_split(trim(text), ' '))) AS toks
            FROM documents GROUP BY 1
        ), ranked AS (
            SELECT source, toks,
                   ROW_NUMBER() OVER (ORDER BY toks, source) AS i
            FROM per_src
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               ROUND(2.0 * SUM(i * toks) / (COUNT(*) * SUM(toks))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini,
               ROUND(MAX(toks) / CAST(SUM(toks) AS DOUBLE), 6) AS top_share
        FROM ranked
    """,
    "x255_ndcg_popularity": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), multi AS (
            SELECT ok, MAX(pk) AS held FROM li GROUP BY ok
            HAVING COUNT(*) >= 2
        ), train AS (
            SELECT li.ok, li.pk FROM li LEFT JOIN multi USING (ok)
            WHERE held IS NULL OR pk <> held
        ), pop AS (
            SELECT pk, rk FROM (
                SELECT pk,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pk) AS rk
                FROM train GROUP BY pk
            ) WHERE rk <= {NDCG_K}
        ), gains AS (
            SELECT 1.0 / log2(p.rk + 1.0) AS g
            FROM multi m LEFT JOIN pop p ON m.held = p.pk
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(COUNT(g) AS BIGINT) AS hits_at_k,
               ROUND(SUM(COALESCE(g, 0.0)) / COUNT(*), 6) AS ndcg_at_k
        FROM gains
    """,
    "x256_bcubed_dedup_eval": f"""
        WITH RECURSIVE {_X27_CLUSTERS_SQL}, goldc AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS g
            FROM documents
        ), lab AS (
            SELECT c.doc_id, c.cluster_id AS s, gc.g
            FROM clusters c JOIN goldc gc USING (doc_id)
        ), cells AS (
            SELECT s, g, COUNT(*) AS n_sg FROM lab GROUP BY 1, 2
        ), ssz AS (
            SELECT s, COUNT(*) AS n_s FROM lab GROUP BY 1
        ), gsz AS (
            SELECT g, COUNT(*) AS n_g FROM lab GROUP BY 1
        ), nn AS (
            SELECT COUNT(*) AS n_docs FROM lab
        ), j AS (
            SELECT n_sg, n_s, n_g, n_docs
            FROM cells JOIN ssz USING (s) JOIN gsz USING (g) CROSS JOIN nn
        ), ag AS (
            SELECT MAX(n_docs) AS n_docs,
                   SUM(n_sg * n_sg / CAST(n_s AS DOUBLE)) / MAX(n_docs) AS p,
                   SUM(n_sg * n_sg / CAST(n_g AS DOUBLE)) / MAX(n_docs) AS r
            FROM j
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               ROUND(p, 6) AS bcubed_precision,
               ROUND(r, 6) AS bcubed_recall,
               ROUND(2 * p * r / (p + r), 6) AS bcubed_f1
        FROM ag
    """,
})

QUERIES.update({
    "x252_dirichlet_ql": x252_dirichlet_ql,
    "x253_rbo_rank_agreement": x253_rbo_rank_agreement,
    "x254_gini_sources": x254_gini_sources,
    "x255_ndcg_popularity": x255_ndcg_popularity,
    "x256_bcubed_dedup_eval": x256_bcubed_dedup_eval,
})
