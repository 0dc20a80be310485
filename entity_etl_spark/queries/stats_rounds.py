from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._base import (
    CUTOFF,
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    Q,
    REGISTRY,
    _ts_str,
    changed_rows,
    read_sf_table,
    register,
    tsutil,
)
from .training_pipeline import _stage_bucketed_batches, _stage_ts_ordered_batches


# ---------------------------------------------------------------------------
# Round 4: statistical tests + keyword extraction
# ---------------------------------------------------------------------------


@register(
    "chi_square_independence",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o) AS ri FROM obs GROUP BY 1),
    ct AS (SELECT dow, sum(o) AS cj FROM obs GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM obs)
    SELECT round(tot.n * (sum(obs.o * obs.o / (rt.ri * ct.cj)) - 1), 4)
             AS chi2,
           CAST((SELECT count(*) - 1 FROM rt)
                * (SELECT count(*) - 1 FROM ct) AS BIGINT) AS dof,
           CAST(tot.n AS BIGINT) AS n
    FROM obs
    JOIN rt ON obs.event_type = rt.event_type
    JOIN ct ON obs.dow = ct.dow
    CROSS JOIN tot
    GROUP BY tot.n
    """,
    doc="Chi-squared test of independence (event_type x day-of-week): "
    "uses the identity chi2 = N * (sum o^2/(r_i*c_j) - 1), which needs "
    "only the OBSERVED cells — absent (zero) cells contribute nothing, "
    "so no dense grid materialization. Scale shape: one tiny "
    "(type, dow) contingency agg (map-side combined), row/col totals "
    "re-aggregate the 35-row cell table, everything after the first agg "
    "is broadcast-sized. The dow label convention differs across "
    "engines but chi2 is invariant under relabeling; counts use "
    "DuckDB's dayofweek for the oracle and Spark's dayofweek for the "
    "engine, which only permutes columns of the contingency table.",
    tags=("ext",),
)
def q_chi_square_independence(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("ri"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("cj"))
    tot = obs.agg(F.sum("o").alias("n"))
    r_cnt = rt.agg((F.count(F.lit(1)) - 1).alias("r1"))
    c_cnt = ct.agg((F.count(F.lit(1)) - 1).alias("c1"))
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.col("n")
                * (
                    F.sum(
                        F.col("o") * F.col("o") / (F.col("ri") * F.col("cj"))
                    )
                    - 1
                ),
                4,
            ).alias("chi2")
        )
        .join(F.broadcast(r_cnt))
        .join(F.broadcast(c_cnt))
        .select(
            "chi2",
            (F.col("r1") * F.col("c1")).cast("bigint").alias("dof"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


@register(
    "mann_whitney_u",
    """
    WITH vals AS (
      -- NULL observations are excluded outright: they carry no rank, and
      -- the engines disagree on NULL sort placement (Spark first,
      -- DuckDB last), which would silently skew b_below
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL
    ),
    pv AS (
      SELECT v, sum(is_a) AS a_cnt, sum(1 - is_a) AS b_cnt,
             count(*) AS t_cnt
      FROM vals GROUP BY v
    ),
    cum AS (
      SELECT v, a_cnt, b_cnt, t_cnt,
             coalesce(sum(b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS b_below
      FROM pv
    ),
    agg AS (
      SELECT sum(a_cnt) AS n1, sum(b_cnt) AS n2,
             sum(a_cnt * (b_below + 0.5 * b_cnt)) AS u1,
             sum(t_cnt * t_cnt * t_cnt - t_cnt) AS tie_term
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(u1, 2) AS u1,
           round((u1 - n1 * n2 / 2.0)
                 / sqrt((n1 * n2 / 12.0)
                        * ((n1 + n2 + 1)
                           - tie_term / ((n1 + n2) * (n1 + n2 - 1.0)))),
                 4) AS z
    FROM agg
    """,
    doc="Mann-Whitney U rank-sum test (click vs error event values), in "
    "the distributed per-value-count form: instead of globally ranking "
    "every row (an unbounded single-partition sort), rows collapse to "
    "per-distinct-value (a_cnt, b_cnt) first, U1 = sum a_cnt * "
    "(cum_b_below + b_cnt/2) over the ordered DISTINCT values, with the "
    "normal approximation z tie-corrected. Scale shape: the only "
    "ordered window runs over distinct values (bounded cardinality for "
    "fixed-precision metrics), not rows; everything else is map-side "
    "combinable aggregation.",
    tags=("ext",),
)
def q_mann_whitney_u(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    )
    is_a = F.when(F.col("event_type") == "click", 1).otherwise(0)
    pv = ev.select(F.col("value").alias("v"), is_a.alias("is_a")).groupBy(
        "v"
    ).agg(
        F.sum("is_a").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).alias("b_cnt"),
        F.count(F.lit(1)).alias("t_cnt"),
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pv.withColumn(
        "b_below", F.coalesce(F.sum("b_cnt").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum("a_cnt").alias("n1"),
        F.sum("b_cnt").alias("n2"),
        F.sum(F.col("a_cnt") * (F.col("b_below") + 0.5 * F.col("b_cnt"))).alias(
            "u1"
        ),
        F.sum(
            F.col("t_cnt") * F.col("t_cnt") * F.col("t_cnt") - F.col("t_cnt")
        ).alias("tie_term"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    sigma = F.sqrt(
        (n1 * n2 / 12.0)
        * ((n1 + n2 + 1) - F.col("tie_term") / ((n1 + n2) * (n1 + n2 - 1.0)))
    )
    return agg.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round("u1", 2).alias("u1"),
        F.round((F.col("u1") - n1 * n2 / 2.0) / sigma, 4).alias("z"),
    )


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE doc_id % 100 = 0 GROUP BY doc_id, tok
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * (ln((1.0 + nd.n_docs) / (1.0 + df.df)) + 1), 6)
               AS score
      FROM tf JOIN df USING (tok) CROSS JOIN nd
    )
    SELECT doc_id, tok AS term, score, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, tok) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document by smoothed "
    "tf-idf (sklearn's ln((1+N)/(1+df))+1), idf computed over the FULL "
    "corpus while per-doc tf is computed only for the reported doc "
    "sample — the standard fit-on-all/report-on-some split. Scale "
    "shape: df is one map-side-combinable distinct-agg over (tok, "
    "doc_id); the idf table is vocabulary-sized and broadcasts to the "
    "tf probe; the per-doc top-3 is a WindowGroupLimit (rank pushdown), "
    "ranked on the ROUNDED score with a term tie-break so cross-engine "
    "ulp wobble in ln cannot flip ranks.",
    tags=("ext",),
)
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("tok"),
    )
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    nd = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    tf = (
        toks.filter(F.col("doc_id") % 100 == 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * (
                    F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df")))
                    + 1
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "score",
            F.col("rn").cast("int").alias("rank"),
        )
    )


@register(
    "triangle_count_copurchase",
    """
    WITH pairs AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS n_tri
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    degstats AS (
      SELECT count(*) AS n_nodes, sum(d * (d - 1)) / 2.0 AS n_wedges
      FROM deg
    )
    -- floor form, not round(): both engines hold the identical IEEE
    -- quotient; round()-on-double diverges on shortest-repr ties
    SELECT CAST(degstats.n_nodes AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(tri.n_tri AS BIGINT) AS n_triangles,
           floor(3.0 * tri.n_tri / degstats.n_wedges * 1000000 + 0.5)
             / 1000000 AS clustering_coeff
    FROM tri, degstats
    """,
    doc="Distributed triangle counting + global clustering coefficient "
    "over the co-purchase graph (parts are nodes; an edge = the two "
    "parts share an order). The compact-forward pattern: edges are "
    "oriented toward their higher-degree endpoint, wedges form by a "
    "same-source self-join (fan-out sum C(outdeg,2), outdeg O(sqrt(m)) "
    "under degree orientation — hub-proof) and close with one hash-join "
    "probe — never an NLJ (the per-order "
    "pair explode is C(items-per-order, 2) via ext.graph."
    "within_group_pairs — max_order_items caps whale orders with "
    "Observation accounting, the same contract as the LSH bucket caps; "
    "registry runs uncapped for oracle parity). Pre-flights the exact "
    "wedge-join volume (one linear agg over the pinned oriented edges) "
    "and raises above 2e9 wedges with the DOULION pointer instead of "
    "dying on shuffle spill — feasibility envelope measured in SCALE.md. "
    "Degree stats and the wedge denominator reuse the edge table. The "
    "extension-family recommendation/graph twin of pagerank (E-family, "
    "SURVEY §2.3).",
    tags=("ext", "bench2"),
)
def q_triangle_count_copurchase(
    spark: SparkSession,
    sf: str,
    *,
    max_order_items: int | None = None,
    observation=None,
    max_wedges: int | None = None,
) -> DataFrame:
    from ..ext.graph import _WEDGE_GUARD_DEFAULT, _wedge_preflight, within_group_pairs

    # None = the measured-envelope default (see ext.graph._wedge_preflight);
    # <= 0 = explicit opt-out for clusters with aggregate disk for the spill
    if max_wedges is None:
        max_wedges = _WEDGE_GUARD_DEFAULT
    elif max_wedges <= 0:
        max_wedges = None

    li = read_sf_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = (
        within_group_pairs(
            li,
            "l_orderkey",
            "l_partkey",
            item_a="u",
            item_b="v",
            max_group_size=max_order_items,
            observation=observation,
            dropped_metric="tri_rows_in_dropped_orders",
            max_metric="tri_max_order_items",
        )
        .select("u", "v")
        .distinct()
        # three self-join consumers (e1/e2/e3) + degrees: pin the edge
        # table so the per-order pair explode runs once
        .localCheckpoint(eager=True)
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        # consumed by the orientation join AND degstats: pin the (node, d)
        # table (|V| rows) so the union+shuffle degree pipeline runs once
        .localCheckpoint(eager=True)
    )
    # Degree-ordered orientation (compact-forward; cf. Suri &
    # Vassilvitskii, "Counting triangles and the curse of the last
    # reducer"): orient every edge toward its higher-(degree, id)
    # endpoint. The wedge self-join below fans out as sum C(outdeg, 2),
    # and under degree orientation outdeg is O(sqrt(m)) — id-ordering
    # behaves like a random orientation, whose hub wedges (popular parts
    # co-purchased with thousands of others) dominate the join at scale.
    # The triangle COUNT is orientation-invariant, so the oracle is
    # untouched: each triangle's nodes have a unique rank order r1<r2<r3
    # and exactly one wedge (r1->r2, r1->r3) closed by r2->r3.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e_dir = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        )
        # three self-join consumers (a/b/c): pin so the orientation joins
        # run once
        .localCheckpoint(eager=True)
    )
    # pre-flight (r8): one linear agg over the pinned oriented edges
    # computes the EXACT wedge-join volume and raises with the DOULION
    # pointer instead of dying on disk — the r7 sf10 attempt spilled
    # ~70 GB and killed the JVM at 4.15G wedges; sf1's 415M ran in 45 s
    n_edges_known = _wedge_preflight(e_dir, max_wedges)
    if n_edges_known is None:
        n_edges_known = e_dir.count()  # pinned: one cheap narrow count
    dst_rank_lt = (F.col("a.dst_d") < F.col("b.dst_d")) | (
        (F.col("a.dst_d") == F.col("b.dst_d"))
        & (F.col("a.dst") < F.col("b.dst"))
    )
    # closing-probe strategy (§3.1, same rule as ext.graph's kernel):
    # broadcast the edge table when it fits so the wedge set — the
    # superlinear frame — never crosses an exchange; else shuffled-hash
    # so the wedges stream instead of sorting for a sort-merge close
    from ..ext.graph import _BROADCAST_CLOSE_MAX_EDGES

    if n_edges_known <= _BROADCAST_CLOSE_MAX_EDGES:
        close_side = F.broadcast(e_dir.alias("c"))
    else:
        close_side = e_dir.alias("c").hint("shuffle_hash")
    tri = (
        e_dir.alias("a")
        .join(
            e_dir.alias("b"),
            (F.col("a.src") == F.col("b.src")) & dst_rank_lt,
        )
        .join(
            close_side,
            (F.col("c.src") == F.col("a.dst"))
            & (F.col("c.dst") == F.col("b.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    # one pass over deg yields both stats (two separate aggs would plan
    # the union+shuffle degree pipeline twice and cost a third scalar
    # broadcast join)
    degstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2.0).alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    # floor form, not F.round: both engines hold the identical IEEE
    # quotient; round()-on-double diverges on shortest-repr ties.
    # NULL when the graph has no wedges (degenerate/capped input) —
    # under ANSI mode an unguarded divide would abort the job
    coeff = F.when(
        F.col("n_wedges") > 0,
        F.floor(3.0 * F.col("n_tri") / F.col("n_wedges") * 1000000 + 0.5)
        / 1000000,
    )
    return (
        tri.join(F.broadcast(degstats))
        .join(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            coeff.alias("clustering_coeff"),
        )
    )


@register(
    "triangle_count_doulion",
    """
    -- DOULION (Tsourakakis et al., KDD'09): sparsify by a DETERMINISTIC
    -- portable edge coin (md5 32-bit uniform < floor(0.25*2^32)), exact
    -- triangle count on the sample, scale by 1/p^3 = 64. The coin makes
    -- the estimate itself restatable verbatim — this oracle replays the
    -- full estimator, not a tolerance band; the measured-error contract
    -- vs the exact count is pinned in tests (exact query = ground truth)
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    samp AS MATERIALIZED (
      SELECT u, v FROM pairs
      WHERE CAST(('0x' || substring(md5(u || '_' || v || '_doulion'), 1, 8))
                 AS BIGINT) < 1073741824
    ),
    tri AS (
      SELECT count(*) AS n_tri
      FROM samp e1
      JOIN samp e2 ON e2.u = e1.v
      JOIN samp e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM samp) AS BIGINT) AS n_edges_sampled,
           CAST(tri.n_tri AS BIGINT) AS n_tri_sampled,
           CAST(floor(tri.n_tri * 64.0 + 0.5) AS BIGINT) AS est_triangles
    FROM tri
    """,
    doc="DOULION approximate triangle count over the co-purchase graph "
    "(ext/graph.doulion_triangle_estimate): keep each edge with p=0.25 "
    "via a deterministic portable md5 coin, exact-count the sampled "
    "graph (compact-forward, hub-proof), scale by 1/p^3. The ~linear "
    "100 TB twin of triangle_count_copurchase — wedge fan-out (the one "
    "inherently superlinear term) shrinks by p^2 and p can shrink as "
    "the graph grows (relative std ~ sqrt(64/T)); measured error vs the "
    "exact count is pinned in tests/test_ext_round7.py.",
    tags=("ext", "bench2"),
)
def q_triangle_count_doulion(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.graph import (
        doulion_triangle_estimate,
        sample_edges_portable,
        within_group_pairs,
    )

    li = read_sf_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    raw_pairs = within_group_pairs(
        li,
        "l_orderkey",
        "l_partkey",
        item_a="u",
        item_b="v",
        dropped_metric="tri_rows_in_dropped_orders",
        max_metric="tri_max_order_items",
    ).select("u", "v")
    # the coin is deterministic per (u,v), hence idempotent: applying it
    # BEFORE the distinct drops ~(1-p) of the pair-explode output ahead
    # of the dedup shuffle (the estimator re-applies it as a no-op)
    edges = sample_edges_portable(raw_pairs, p=0.25).distinct()
    return doulion_triangle_estimate(edges, p=0.25)


# Pair-volume guard for the EXACT item-item leg (the wedge-guard pattern,
# ext/graph._wedge_preflight): one cheap linear agg over the already
# persisted (customer, part) set computes the EXACT pair fan-out
# sum_c C(basket_c, 2) before the self-join is planned. Measured envelope
# on one local[32]/64g box (r8/r9, packed-bigint pair shuffle):
#   sf0.1 =  13.1M pairs ->  ~3.7 s quiet
#   sf1   = 132.1M pairs ->  ~6.4 s quiet (in-ceiling)
#   sf10  = 1.320G pairs -> 150-156 s quiet — completes, but breaches the
#           15x-per-decade one-box factor ceiling (99.5 s): ~800M unique
#           keys in the final agg outgrow one JVM's execution memory and
#           the agg degrades to sort-spill even at AQE 512 partitions.
# The default sits between the two measured decades. This is a CEILING
# envelope, not a disk-death one (contrast the triangle guard): the
# exact leg still RUNS at 1.3G pairs; it just stops being the plan you
# want on one box — item_item_cosine_topk_capped is the at-scale twin.
_PAIR_GUARD_DEFAULT = 600_000_000


def _pair_volume_preflight(cp: DataFrame, max_pairs: int | None) -> None:
    if max_pairs is None:
        return
    row = (
        cp.groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.col("n").cast("bigint") * (F.col("n") - F.lit(1)) / F.lit(2)
            ).alias("w")
        )
        .collect()[0]
    )
    pairs = int(row["w"] or 0)
    if pairs > max_pairs:
        raise ValueError(
            f"exact item-item cosine would shuffle {pairs:,} packed pair "
            f"rows (> the {max_pairs:,} guard): measured on one "
            f"local[32]/64g box, 1.32G pairs runs 150-156 s — past the "
            f"15x-per-decade ceiling — because ~800M unique pair keys "
            f"degrade the final count agg to sort-spill. Use "
            f"item_item_cosine_topk_capped (whale baskets dropped whole, "
            f"true supports, Observation drop accounting) or raise/"
            f"disable the guard (max_pairs=None) on a cluster whose "
            f"aggregate execution memory holds the pair key set"
        )


@register(
    "item_item_cosine_topk",
    """
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    support AS (SELECT p, count(*) AS n FROM cp GROUP BY p),
    co AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS n_co
      FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    scored AS (
      -- floor form: n_co/sqrt(na*nb) is the identical IEEE double in
      -- both engines, but round() diverges on shortest-repr ties (e.g.
      -- 41/640 = 0.0640625 rounds up in Spark, down in DuckDB)
      SELECT co.pa, co.pb, co.n_co,
             floor(co.n_co / sqrt(sa.n * sb.n) * 1000000 + 0.5)
               / 1000000 AS cosine
      FROM co
      JOIN support sa ON sa.p = co.pa
      JOIN support sb ON sb.p = co.pb
      WHERE co.n_co >= 3
    )
    SELECT pa, pb, CAST(n_co AS BIGINT) AS n_co, cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER
            (ORDER BY cosine DESC, pa, pb) AS rn
          FROM scored)
    WHERE rn <= 20
    """,
    doc="Item-item collaborative similarity: parts as binary "
    "customer-incidence vectors, cosine = co-purchase count / "
    "sqrt(support_a * support_b), top-20 pairs with a min-support "
    "floor. The co-occurrence join is keyed by customer, so its fan-out "
    "is sum over customers of C(basket, 2) via ext.graph."
    "within_group_pairs — max_basket_size caps whale baskets with "
    "Observation accounting (registry runs uncapped for oracle "
    "parity); supports are a broadcast-sized dim; ranking is "
    "on the ROUNDED cosine with (pa, pb) tie-break so cross-engine "
    "sqrt ulp can't flip the top-k; TakeOrderedAndProject caps output. "
    "Pre-flight pair-volume guard (r9, the wedge-guard pattern): one "
    "linear agg computes the exact fan-out before the self-join plans; "
    "above max_pairs (default 600M — between the measured sf1 132M "
    "in-ceiling and sf10 1.32G ceiling-breach decades) it raises with "
    "a pointer at the capped at-scale twin.",
    tags=("ext", "bench2"),
)
def q_item_item_cosine_topk(
    spark: SparkSession,
    sf: str,
    *,
    max_basket_size: int | None = None,
    max_pairs: int | None = _PAIR_GUARD_DEFAULT,
    observation=None,
) -> DataFrame:
    from ..ext.graph import within_group_pairs

    li = read_sf_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = read_sf_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    if max_basket_size is None:
        # EXACT leg: cp is consumed 4x (support agg, basket-size agg,
        # both self-join sides); per-consumer column pruning rewrites the
        # shared subtree differently per branch, so ReuseExchange cannot
        # dedupe it (verified: 0 ReusedExchange, 4 scans-per-table) —
        # materialize once. The self-join (not an array explode) is the
        # right shape here BECAUSE baskets are unbounded: a whale basket
        # materialized as a C(n,2) pair array is one giant row, while
        # join output is row-at-a-time bounded.
        #
        # Cache lifetime: this persist is intentionally session-scoped
        # (the returned frame is lazy, so the function cannot unpersist
        # after the caller's action); bench/parity harnesses call
        # spark.catalog.clearCache() between queries so it never pins
        # unified memory for unrelated work.
        cp = cp.persist()
        # eager materialization before the consumers fork: the pre-flight
        # agg itself populates the cache (it consumes cp), so the guard
        # costs no extra pass; only the guard-disabled path needs count()
        if max_pairs is not None:
            _pair_volume_preflight(cp, max_pairs)
        else:
            cp.count()
        support = cp.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
        pair_src = within_group_pairs(
            cp,
            "c",
            "p",
            item_a="pa",
            item_b="pb",
            max_group_size=None,
            observation=observation,
            dropped_metric="ii_rows_in_dropped_baskets",
            max_metric="ii_max_basket_size",
        # pack the pair key into ONE bigint for the big shuffle: the
        # pair-count exchange moves ~1.3G mostly-singleton keys at sf10
        # (the dominant cost), and one 8-byte key vs two 8-byte columns
        # is ~1/3 less row width + one hash/compare instead of two.
        # Precondition: partkey in [0, 2^32) — TPC-H partkeys reach
        # 2^32 around sf≈21000, far past any one-box or bench scale.
        # (pa >= 2^31 sets the bigint sign bit; the bit pattern is still
        # unique and groupBy-safe, and the unpack below uses
        # shiftrightunsigned so pa round-trips without sign extension.)
        ).select(
            F.shiftleft(F.col("pa"), 32).bitwiseOR(F.col("pb")).alias("pk")
        )
    else:
        # CAPPED (production) leg: with baskets bounded by the cap, the
        # per-basket pair ARRAY is bounded too (C(40,2) = 780 longs), so
        # the whole pair explode becomes one codegen'd higher-order
        # expression over collect_list — no self-join, no window, no
        # 60M-row materialization (the persist form cost ~10 s at sf1
        # just building the cache). support stays UNCAPPED from its own
        # cp branch (true denominators; the distinct's exchange is
        # shared lineage the cache would otherwise have to carry).
        cpg = cp.groupBy("c").agg(
            F.sort_array(F.collect_list("p")).alias("ps")
        ).select("ps", F.size("ps").alias("bn"))
        if observation is not None:
            cpg = cpg.observe(
                observation,
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("bn") > max_basket_size, F.col("bn")
                        ).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).alias("ii_rows_in_dropped_baskets"),
                F.coalesce(F.max("bn"), F.lit(0)).alias(
                    "ii_max_basket_size"
                ),
            )
        kept = cpg.filter(F.col("bn") <= max_basket_size)
        # sorted distinct items: strict upper-triangle slices give
        # pa < pb for free, packed at generation time
        pair_src = kept.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ps"), i + F.lit(2), F.size("ps")
                            ),
                            lambda y: F.shiftleft(x, 32).bitwiseOR(y),
                        ),
                    )
                )
            ).alias("pk")
        )
        support = cp.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    co = (
        pair_src.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
        .select(
            # unsigned shift: arithmetic shiftright would sign-extend
            # once pa >= 2^31 (sf~10700), silently emitting negative ids
            F.shiftrightunsigned(F.col("pk"), 32).alias("pa"),
            F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("pb"),
            "n_co",
        )
    )
    sa = support.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    sb = support.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    scored = (
        co.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .select(
            "pa",
            "pb",
            "n_co",
            (
                F.floor(
                    F.col("n_co")
                    / F.sqrt(F.col("na") * F.col("nb"))
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(F.col("cosine").desc(), "pa", "pb")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "pa",
            "pb",
            F.col("n_co").cast("bigint").alias("n_co"),
            "cosine",
            F.col("rn").cast("int").alias("rank"),
        )
    )


@register(
    "item_item_cosine_topk_capped",
    """
    -- the PRODUCTION-PROFILE twin: whale customers (baskets over the cap)
    -- are dropped whole BEFORE the pair explode — cap_hot_groups
    -- semantics, restated here as a HAVING filter on basket size. Cap 40
    -- = this corpus's ~p50: it keeps 53% of customers carrying 28% of the
    -- uncapped 1.32G-row fan-out at sf10 (measured), which is what turns
    -- the r7 one-box memory-wall breach (208 s, sort-spill on ~800M
    -- unique keys) into an in-ceiling run. Supports stay UNCAPPED —
    -- cosine denominators are true item supports, so kept-pair scores
    -- are exact; only pairs whose co-count lived in dropped baskets are
    -- missing, and those are Observation-accounted in the engine run.
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    support AS (SELECT p, count(*) AS n FROM cp GROUP BY p),
    kept AS (SELECT c FROM cp GROUP BY c HAVING count(*) <= 40),
    cpk AS (SELECT cp.* FROM cp JOIN kept USING (c)),
    co AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS n_co
      FROM cpk a JOIN cpk b ON a.c = b.c AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    scored AS (
      SELECT co.pa, co.pb, co.n_co,
             floor(co.n_co / sqrt(sa.n * sb.n) * 1000000 + 0.5)
               / 1000000 AS cosine
      FROM co
      JOIN support sa ON sa.p = co.pa
      JOIN support sb ON sb.p = co.pb
      WHERE co.n_co >= 3
    )
    SELECT pa, pb, CAST(n_co AS BIGINT) AS n_co, cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER
            (ORDER BY cosine DESC, pa, pb) AS rn
          FROM scored)
    WHERE rn <= 20
    """,
    doc="Production-profile item-item similarity (VERDICT r7 item 2): "
    "identical scoring/ranking to item_item_cosine_topk but whale "
    "baskets above max_basket_size=40 drop whole BEFORE the pair "
    "explode (r8 array-pair form: collect_list per customer, basket-"
    "size filter, then one codegen'd higher-order slice/transform "
    "expression emits the packed strict-upper-triangle pair array — "
    "no self-join, no cap window; the Observation drop metrics are "
    "restated on basket sizes), bounding the co-occurrence agg's "
    "unique-key working set on one box. Supports stay uncapped from "
    "their own branch, so kept-pair cosines are exact. "
    "The uncapped exact contract stays in the registry; "
    "this twin is the recorded at-scale alternative for the sf10 "
    "memory-wall breach. Oracle restates the cap as a HAVING filter on "
    "basket size, so the capped output is fully relationally pinned.",
    tags=("ext", "bench2"),
)
def q_item_item_cosine_topk_capped(
    spark: SparkSession, sf: str
) -> DataFrame:
    from pyspark.sql import Observation

    return q_item_item_cosine_topk(
        spark,
        sf,
        max_basket_size=40,
        observation=Observation("ii_capped_drops"),
    )


@register(
    "embedding_label_probe_accuracy",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    -- DECIMAL partials: centroid components are averages over many
    -- doubles, and a double sum's order (Spark partial agg vs DuckDB
    -- sequential) moves the last ulp; decimal addition is exact and
    -- order-independent, so both engines hold BIT-IDENTICAL centroids
    cent AS (
      SELECT label, t.ord,
             CAST(sum(CAST(e.v[t.ord] AS DECIMAL(38,12))) / count(*)
                  AS DOUBLE) AS c
      FROM e, UNNEST(range(1, len(e.v) + 1)) AS t(ord)
      GROUP BY label, t.ord
    ),
    cvec AS (
      SELECT label AS clabel, list(c ORDER BY ord) AS cv
      FROM cent GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.clabel,
             round(list_cosine_similarity(e.v, c.cv), 6) AS s
      FROM e, cvec c
    ),
    pred AS (
      SELECT vec_id, label, clabel AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY s DESC, clabel) AS rn
        FROM scored)
      WHERE rn = 1
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS accuracy
    FROM pred GROUP BY label ORDER BY label
    """,
    doc="Embedding-quality probe: nearest-label-centroid classification "
    "accuracy per label — the standard cheap eval for whether an "
    "embedding space separates known classes (clustering-quality twin "
    "of the recall gates in E3). Scale shape: centroids are one "
    "posexplode + (label, pos) agg with DECIMAL partials (exact and "
    "order-independent, so both engines hold bit-identical centroids "
    "— the conditional_agg lesson applied to vector math); the "
    "n_labels x dim centroid table is a tiny broadcast; scoring is "
    "map-side zip_with/aggregate cosine (JVM, no UDF) against all "
    "centroids; argmax is a WindowGroupLimit on the ROUNDED score "
    "with a label tie-break.",
    tags=("ext",),
)
def q_embedding_label_probe_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_sf_table(spark, sf, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(38,12)")) / F.count(F.lit(1)))
            .cast("double")
            .alias("c")
        )
    )
    cvec = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    dot = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(col, lambda a: a * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = emb.join(F.broadcast(cvec)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(dot / (norm(F.col("v")) * norm(F.col("cv"))), 6).alias("s"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), "clabel")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            correct.cast("bigint").alias("n_correct"),
            F.round(correct * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
        )
        .orderBy("label")
    )


@register(
    "dsir_importance_sample",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, source, t.tok
      FROM documents,
           UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    hist AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT % 256
                  AS BIGINT) AS bkt,
             count(*) AS c
      FROM toks GROUP BY 1, 2, 3, 4
    ),
    raw AS (SELECT bkt, sum(c) AS c_r FROM hist GROUP BY 1),
    tgt AS (SELECT bkt, sum(c) AS c_t FROM hist WHERE lang = 'en' GROUP BY 1),
    n_r AS (SELECT sum(c_r) AS n_r FROM raw),
    n_t AS (SELECT coalesce(sum(c_t), 0) AS n_t FROM tgt),
    lr AS (
      SELECT raw.bkt,
             ln((coalesce(c_t, 0) + 1.0) / (n_t + 256.0))
             - ln((c_r + 1.0) / (n_r + 256.0)) AS lr
      FROM raw LEFT JOIN tgt USING (bkt) CROSS JOIN n_r CROSS JOIN n_t
    ),
    scored AS (
      SELECT h.doc_id, h.lang, h.source,
             CAST(sum(h.c) AS BIGINT) AS n_tokens,
             sum(h.c * lr.lr) / sum(h.c) AS score
      FROM hist h JOIN lr ON lr.bkt = h.bkt
      WHERE h.lang <> 'en'
      GROUP BY 1, 2, 3
    ),
    keyed AS (
      SELECT *,
             score - ln(-ln(CAST(('0x' || substring(
                 md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
                 / 4294967296.0)) AS key
      FROM scored
    )
    SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT)
             AS rnk,
           doc_id, lang, source, n_tokens,
           round(score, 4) + 0.0 AS dsir_logratio
    FROM keyed
    ORDER BY key DESC, doc_id LIMIT 100
    """,
    doc="DSIR data selection (Xie et al 2023, arXiv:2302.03169): "
    "hashed-unigram importance weights ln p_target/p_raw (target = "
    "lang='en' docs, add-one smoothing over 256 md5 buckets) score every "
    "non-target doc; Gumbel-top-k with the md5-derived uniform draws a "
    "deterministic weighted sample without replacement "
    "(ext/lm.dsir_importance_sample). Scale: both 'LMs' are 256-row "
    "broadcast tables at ANY corpus size (the point of DSIR's hashed "
    "features); one explode scan pinned into a map-side-combined "
    "(doc, bucket) histogram feeds counts and scoring; top-k is "
    "TakeOrderedAndProject, never a global sort.",
    tags=("ext",),
)
def q_dsir_importance_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.lm import dsir_importance_sample

    docs = read_sf_table(spark, sf, "documents")
    return dsir_importance_sample(docs, target_lang="en", n_buckets=256, k=100)


# one source of truth for the count-min oracle replay (4 rows x width
# 512, md5 "j:" salt) — shared by countmin_heavy_hitters and
# streaming_countmin_state so the sketch parameters cannot drift between
# the two SQL twins
_CM_ORACLE_CTE = r"""
    WITH toks AS (
      SELECT t.tok
      FROM documents,
           UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    exact AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    top AS (SELECT tok, c FROM exact ORDER BY c DESC, tok LIMIT 20),
    cells AS (
      SELECT d.j,
             CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' || tok),
                                     1, 8))::UBIGINT % 512 AS BIGINT) AS bkt,
             count(*) AS c
      FROM toks CROSS JOIN UNNEST([0, 1, 2, 3]) AS d(j)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.tok, min(cells.c) AS est
      FROM top t
      CROSS JOIN UNNEST([0, 1, 2, 3]) AS d(j)
      JOIN cells
        ON cells.j = d.j
       AND cells.bkt = CAST(('0x' || substring(
             md5(CAST(d.j AS VARCHAR) || ':' || t.tok), 1, 8))::UBIGINT % 512
             AS BIGINT)
      GROUP BY 1
    )
"""


@register(
    "countmin_heavy_hitters",
    _CM_ORACLE_CTE
    + """
    SELECT t.tok, CAST(t.c AS BIGINT) AS exact_c,
           CAST(e.est AS BIGINT) AS cm_est,
           e.est >= t.c AS is_overestimate
    FROM top t JOIN est e USING (tok)
    """,
    doc="Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005; "
    "ext/sketches.build_countmin): a 4x512 counter grid probed for the "
    "exact top-20 tokens. The verification form builds the sketch from "
    "the exact (tok, count) table via the weighted build — bit-identical "
    "to sketching the raw stream (count-min is additive in weights) but "
    "O(distinct tokens) instead of O(corpus positions), so the token "
    "scan has ONE consumer and needs no pin. md5-salted rows make the "
    "sketch bit-identical in DuckDB: estimates compare EXACTLY, and the "
    "min-of-rows overestimate invariant is asserted per token. At 100 TB "
    "only the sketch path runs, from raw tokens, with map-side partials "
    "as per-partition sketches (streaming_countmin_state shows that "
    "form).",
    tags=("ext",),
)
def q_countmin_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import nonempty_tokens
    from ..ext.sketches import build_countmin, estimate_countmin

    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(F.explode(nonempty_tokens("text")).alias("tok"))
    # two consumers (top + sketch build): pin the O(distinct tokens)
    # count table, NOT the O(corpus positions) token stream
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    top = exact.orderBy(F.desc("c"), "tok").limit(20)
    # weighted build over the exact counts == sketching the raw stream
    sketch = build_countmin(exact, "tok", depth=4, width=512, weight_col="c")
    est = estimate_countmin(top, "tok", sketch, depth=4, width=512)
    return est.select(
        "tok",
        F.col("c").cast("bigint").alias("exact_c"),
        F.col("cm_est").alias("cm_est"),
        (F.col("cm_est") >= F.col("c")).alias("is_overestimate"),
    )


@register(
    "streaming_dedup_watermark",
    """
    -- dropDuplicatesWithinWatermark with a horizon exceeding the data
    -- span: every (user_id, event_type) key emits EXACTLY once across
    -- all micro-batches. The oracle pins that contract literally —
    -- n_emitted must be 1 per key; any cross-batch re-emission (state
    -- lost between batches) or missed suppression hash-mismatches.
    SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="Streaming dedup within the watermark horizon "
    "(dropDuplicatesWithinWatermark, SURVEY 2.2 streaming-stateful row; "
    "the reference's at-least-once redelivery suppression cache.js:75-80 "
    "restated as the built-in operator): keyed state bounded by the "
    "watermark — at 100 TB the horizon caps state size, and keys recur "
    "after expiry without unbounded growth. The feed replays "
    "time-ordered micro-batches (maxFilesPerTrigger=1); emitted rows are "
    "re-aggregated to assert the exactly-once-per-key contract.",
    tags=("streaming", "bench2"),
)
def q_streaming_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming import run_available_now

    events = read_sf_table(spark, sf, "events")
    sides = events.select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
    )
    base = tempfile.mkdtemp(prefix="stream_dedupwm_")
    atexit.register(shutil.rmtree, base, True)
    in_dir, schema = _stage_ts_ordered_batches(spark, sides, base, 3)
    deduped = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    emit_dir = os.path.join(base, "emit")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(emit_dir)

    run_available_now(
        deduped, os.path.join(base, "ckpt"), sink, timeout_sec=600.0
    )
    out_schema = "ts timestamp, user_id bigint, event_type string"
    return (
        spark.read.schema(out_schema)
        .parquet(emit_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_emitted"))
    )


@register(
    "streaming_countmin_state",
    _CM_ORACLE_CTE
    + """
    -- the INCREMENTALLY maintained sketch (3 micro-batches, one
    -- idempotent cell table per batch, merged on read) must equal the
    -- one-shot sketch over the whole corpus bit-for-bit, because
    -- count-min merge is an exact cell-wise sum.
    SELECT t.tok, CAST(t.c AS BIGINT) AS exact_c,
           CAST(e.est AS BIGINT) AS cm_est
    FROM top t JOIN est e USING (tok)
    """,
    doc="Incremental count-min maintenance under Structured Streaming "
    "(ext/sketches.run_streaming_countmin): each micro-batch overwrites "
    "its own <= 4x512 cell table at state/batch=<id> (O(sketch) per "
    "batch, idempotent under at-least-once foreachBatch replay); reading "
    "merges cells by sum. Count-min merge is exact, so the streamed "
    "state's estimates must equal the one-shot corpus sketch the oracle "
    "replays — any lost batch, double-applied batch, or merge bug "
    "hash-mismatches. The 100 TB shape: per-day sketches compose into "
    "arbitrary windows without touching raw data.",
    tags=("streaming", "bench2",),
)
def q_streaming_countmin_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..ext.dedup import nonempty_tokens
    from ..ext.sketches import read_countmin_state, run_streaming_countmin

    docs = read_sf_table(spark, sf, "documents")
    n_docs = docs.count()
    base = tempfile.mkdtemp(prefix="stream_cm_")
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    bcol = F.least(F.lit(2), F.floor(F.col("doc_id") * 3.0 / n_docs)).cast(
        "int"
    )
    _stage_bucketed_batches(base, in_dir, docs.withColumn("__b", bcol), 3)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def batch_to_keys(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(F.explode(nonempty_tokens("text")).alias("tok"))

    state_dir = os.path.join(base, "state")
    run_streaming_countmin(
        spark,
        stream,
        state_dir,
        os.path.join(base, "ckpt"),
        batch_to_keys=batch_to_keys,
        depth=4,
        width=512,
        timeout_sec=600.0,
    )
    sketch = read_countmin_state(spark, state_dir)

    from ..ext.sketches import estimate_countmin

    toks = batch_to_keys(docs)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = exact.orderBy(F.desc("c"), "tok").limit(20)
    est = estimate_countmin(top, "tok", sketch, depth=4, width=512)
    return est.select(
        "tok",
        F.col("c").cast("bigint").alias("exact_c"),
        F.col("cm_est").alias("cm_est"),
    )


@register(
    "containment_near_dups",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment_a,
           round(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS containment_b,
           round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
             AS max_containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
    """,
    doc="E2 exact n-gram (k=3) CONTAINMENT pairs (max directed containment "
    ">= 0.8): the asymmetric complement to Jaccard — a short doc quoted "
    "inside a long one is near-1.0 containment but low Jaccard, the "
    "subsumption case Jaccard-threshold dedup misses (CCNet/Gopher use "
    "this). Same single shingle-keyed shuffle as ngram_jaccard_pairs.",
    tags=("ext", "bench2"),
)
def q_containment_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import containment_pairs

    docs = read_sf_table(spark, sf, "documents")
    return containment_pairs(docs, "doc_id", "text", k=3, threshold=0.8)


@register(
    "gopher_quality_gate",
    r"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         t -> t <> '') AS w,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             round(CAST(coalesce(list_sum(list_transform(w, t -> len(t))), 0)
                        AS DOUBLE) / greatest(len(w), 1), 4) AS mean_word_len,
             round(CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
                   / greatest(len(w), 1), 6) AS hash_word_ratio,
             round(CAST(len(list_filter(lines,
                     l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…')))
                   AS DOUBLE) / greatest(len(lines), 1), 6)
               AS ellipsis_line_frac,
             round(CAST(len(list_filter(lines,
                     l -> starts_with(trim(l), '- ')
                       OR starts_with(trim(l), '* ')
                       OR starts_with(trim(l), '•')))
                   AS DOUBLE) / greatest(len(lines), 1), 6)
               AS bullet_line_frac,
             CAST((CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)
                AS BIGINT) AS required_word_hits
      FROM base
    ),
    rules AS (
      SELECT *,
             (n_tokens >= 20 AND n_tokens <= 100000) AS rule_token_count,
             (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AS rule_mean_word_len,
             (hash_word_ratio <= 0.1) AS rule_hash_ratio,
             (ellipsis_line_frac <= 0.3) AS rule_ellipsis_lines,
             (bullet_line_frac <= 0.9) AS rule_bullet_lines,
             (required_word_hits >= 2) AS rule_required_words
      FROM feat
    )
    SELECT *,
           (rule_token_count AND rule_mean_word_len AND rule_hash_ratio
            AND rule_ellipsis_lines AND rule_bullet_lines
            AND rule_required_words) AS keep
    FROM rules
    """,
    doc="E4 Gopher-rules hard quality gate (Rae et al. 2021 A1.1) as one "
    "map-only codegen'd pass: token count, mean word length, '#'/word "
    "ratio, ellipsis-line and bullet-line fractions, required-word hits "
    "— per-rule booleans plus the composite keep. The cheap pre-shuffle "
    "filter a pre-training pipeline runs FIRST at 100 TB.",
    tags=("ext",),
)
def q_gopher_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.text import gopher_gate

    docs = read_sf_table(spark, sf, "documents")
    return gopher_gate(docs, "doc_id", "text")


@register(
    "kmeans_assign_embeddings",
    """
    WITH cent AS (
      SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, cent.cluster,
             round(list_sum(list_transform(
                     list_zip(CAST(e.embedding AS DOUBLE[]), c),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
      FROM embeddings e, cent
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist2 FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist2, cluster) AS rn
      FROM scored)
    WHERE rn = 1
    """,
    doc="E3/E6 k-means ASSIGNMENT step (Lloyd's iteration inner loop) as a "
    "zero-shuffle map-only plan: k=8 deterministic seed centroids "
    "(vec_id < 8) inlined as a literal array, per-row squared-L2 argmin "
    "inside one codegen'd expression — no cross join, no groupBy. At "
    "100 TB assignment is a pure map over the corpus; only the tiny "
    "centroid update aggregates. Ties break to the lowest cluster id.",
    tags=("ext",),
)
def q_kmeans_assign_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.similarity import assign_nearest_centroid

    emb = read_sf_table(spark, sf, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()  # k = 8 rows — Lloyd's-state scalar probe, not data
    )
    centroids = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds
    )
    out = assign_nearest_centroid(emb, centroids, "vec_id", "embedding")
    return out.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "dist2"
    )


@register(
    "kmeans_lloyd_2iter",
    """
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cluster, e AS c FROM emb WHERE vec_id < 8),
    s1 AS (
      SELECT emb.vec_id, c0.cluster,
             round(list_sum(list_transform(list_zip(e, c),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
      FROM emb, c0
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist2, cluster) AS rn
        FROM s1) WHERE rn = 1
    ),
    u1 AS (
      SELECT cluster, list(av ORDER BY i) AS c FROM (
        SELECT a1.cluster, t.i, round(avg(e[t.i + 1]), 9) AS av
        FROM a1 JOIN emb USING (vec_id),
             (SELECT unnest(range(64)) AS i) t
        GROUP BY a1.cluster, t.i)
      GROUP BY cluster
    ),
    s2 AS (
      SELECT emb.vec_id, u1.cluster,
             round(list_sum(list_transform(list_zip(e, c),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
      FROM emb, u1
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist2 FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist2, cluster) AS rn
      FROM s2) WHERE rn = 1
    """,
    doc="E3/E6 Lloyd's k-means, 2 iterations UNROLLED RELATIONALLY in both "
    "engines (assign -> per-(cluster,dim) mean -> re-assign): iterative "
    "ML with a full value-hash oracle, not a rows-only check. Each "
    "iteration = one map-only assignment over inlined centroid literals "
    "+ one tiny (cluster,dim) aggregation (k x dim scalars - Lloyd's "
    "state, not data). Updated coordinates round to 9 decimals so both "
    "engines re-assign from the identical double.",
    tags=("ext", "bench2"),
)
def q_kmeans_lloyd_2iter(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.similarity import kmeans_lloyd

    emb = read_sf_table(spark, sf, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()  # k = 8 seed rows
    )
    centroids = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds
    )
    out = kmeans_lloyd(emb, centroids, n_iter=2, id_col="vec_id", vec_col="embedding")
    return out.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "dist2"
    )


@register(
    "streaming_kmeans_state",
    """
    -- Online (running-mean) k-means replayed relationally: 3 micro-
    -- batches (vec_id terciles), each assigned against the centroids
    -- implied by the cumulative per-(cluster,dim) DECIMAL sums BEFORE
    -- it, then folded in. Decimal sums are exact and order-independent,
    -- so the streamed state and this unrolled replay hold bit-identical
    -- centroids; any lost/double-folded batch hash-mismatches.
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             CAST(least(2, CAST(floor(vec_id * 3.0 /
                  (SELECT count(*) FROM embeddings)) AS BIGINT)) AS INT)
               AS b
      FROM embeddings
    ),
    dims AS (SELECT unnest(range(64)) AS i),
    seedg AS (
      SELECT vec_id AS cluster, i, e[i + 1] AS sv
      FROM emb, dims WHERE vec_id < 8
    ),
    c1 AS (SELECT vec_id AS cluster, e AS c FROM emb WHERE vec_id < 8),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT s.*, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist2, cluster) AS rn
        FROM (SELECT emb.vec_id, c1.cluster,
                     round(list_sum(list_transform(list_zip(e, c),
                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
                       AS dist2
              FROM emb, c1 WHERE emb.b = 0) s) WHERE rn = 1
    ),
    p1 AS (
      SELECT a.cluster, t.i,
             sum(CAST(e[t.i + 1] AS DECIMAL(38,12))) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM a1 a JOIN emb USING (vec_id), dims t GROUP BY 1, 2
    ),
    c2 AS (
      SELECT g.cluster,
             list(CASE WHEN p.m IS NOT NULL
                       THEN CAST(p.s AS DOUBLE) / p.m
                       ELSE g.sv END ORDER BY g.i) AS c
      FROM seedg g LEFT JOIN p1 p ON p.cluster = g.cluster AND p.i = g.i
      GROUP BY g.cluster
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT s.*, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist2, cluster) AS rn
        FROM (SELECT emb.vec_id, c2.cluster,
                     round(list_sum(list_transform(list_zip(e, c),
                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
                       AS dist2
              FROM emb, c2 WHERE emb.b = 1) s) WHERE rn = 1
    ),
    n2 AS (
      SELECT a.cluster, t.i,
             sum(CAST(e[t.i + 1] AS DECIMAL(38,12))) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM a2 a JOIN emb USING (vec_id), dims t GROUP BY 1, 2
    ),
    p2 AS (
      SELECT coalesce(p.cluster, n.cluster) AS cluster,
             coalesce(p.i, n.i) AS i,
             coalesce(p.s, CAST(0 AS DECIMAL(38,12)))
               + coalesce(n.s, CAST(0 AS DECIMAL(38,12))) AS s,
             coalesce(p.m, 0) + coalesce(n.m, 0) AS m
      FROM p1 p FULL OUTER JOIN n2 n
        ON p.cluster = n.cluster AND p.i = n.i
    ),
    c3 AS (
      SELECT g.cluster,
             list(CASE WHEN p.m IS NOT NULL
                       THEN CAST(p.s AS DOUBLE) / p.m
                       ELSE g.sv END ORDER BY g.i) AS c
      FROM seedg g LEFT JOIN p2 p ON p.cluster = g.cluster AND p.i = g.i
      GROUP BY g.cluster
    ),
    a3 AS (
      SELECT vec_id, cluster FROM (
        SELECT s.*, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist2, cluster) AS rn
        FROM (SELECT emb.vec_id, c3.cluster,
                     round(list_sum(list_transform(list_zip(e, c),
                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
                       AS dist2
              FROM emb, c3 WHERE emb.b = 2) s) WHERE rn = 1
    ),
    n3 AS (
      SELECT a.cluster, t.i,
             sum(CAST(e[t.i + 1] AS DECIMAL(38,12))) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM a3 a JOIN emb USING (vec_id), dims t GROUP BY 1, 2
    ),
    p3 AS (
      SELECT coalesce(p.cluster, n.cluster) AS cluster,
             coalesce(p.i, n.i) AS i,
             coalesce(p.s, CAST(0 AS DECIMAL(38,12)))
               + coalesce(n.s, CAST(0 AS DECIMAL(38,12))) AS s,
             coalesce(p.m, 0) + coalesce(n.m, 0) AS m
      FROM p2 p FULL OUTER JOIN n3 n
        ON p.cluster = n.cluster AND p.i = n.i
    ),
    cf AS (
      SELECT g.cluster,
             list(CASE WHEN p.m IS NOT NULL
                       THEN CAST(p.s AS DOUBLE) / p.m
                       ELSE g.sv END ORDER BY g.i) AS c
      FROM seedg g LEFT JOIN p3 p ON p.cluster = g.cluster AND p.i = g.i
      GROUP BY g.cluster
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist2 FROM (
      SELECT s.*, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist2, cluster) AS rn
      FROM (SELECT emb.vec_id, cf.cluster,
                   round(list_sum(list_transform(list_zip(e, c),
                           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
                     AS dist2
            FROM emb, cf) s) WHERE rn = 1
    """,
    doc="E3/E6 + streaming: ONLINE k-means maintained incrementally under "
    "Structured Streaming (ext/similarity.run_streaming_kmeans) — each "
    "micro-batch assigns against the centroids implied by the cumulative "
    "per-(cluster,dim) DECIMAL sums before it (exact, order-independent), "
    "folds its sums in, and writes the cumulative state idempotently at "
    "state/batch=<id> (replay recomputes from the same prior state). The "
    "oracle unrolls the same 3-batch sequence relationally, so streaming "
    "ML state gets a full value-hash check: lost batches, double-folds, "
    "or engine-divergent centroid math all hash-mismatch. Output: final "
    "full-corpus assignment against the post-stream centroids. 100 TB "
    "shape: per batch one map-only assignment + one k x dim aggregation; "
    "state is sketch-sized, never the data.",
    tags=("streaming", "bench2",),
)
def q_streaming_kmeans_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..ext.similarity import (
        _km_centroids,
        assign_nearest_centroid,
        read_kmeans_state,
        run_streaming_kmeans,
    )

    emb = read_sf_table(spark, sf, "embeddings")
    n = emb.count()
    base = tempfile.mkdtemp(prefix="stream_km_")
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    bcol = F.least(
        F.lit(2), F.floor(F.col("vec_id") * 3.0 / n)
    ).cast("int")
    _stage_bucketed_batches(base, in_dir, emb.withColumn("__b", bcol), 3)
    seeds = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    state_dir = os.path.join(base, "state")
    run_streaming_kmeans(
        spark,
        stream,
        state_dir,
        os.path.join(base, "ckpt"),
        seeds=seeds,
        vec_col="embedding",
        timeout_sec=600.0,
    )
    cents = _km_centroids(read_kmeans_state(spark, state_dir), seeds)
    out = assign_nearest_centroid(emb, cents, "vec_id", "embedding")
    return out.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dist2").alias("dist2"),
    )


@register(
    "streaming_bloom_state",
    """
    -- Decidable contracts of the streamed Bloom filter, restated
    -- relationally (the bloom_membership_prefilter pattern): the exact
    -- member count; zero false negatives (OR-merge cannot lose a bit);
    -- and word-table EQUALITY with the one-shot filter over everything
    -- streamed (OR is associative + commutative + idempotent, so the
    -- per-batch merge must be bit-for-bit the one-shot build — any lost
    -- batch or layout drift flips the boolean and hash-mismatches).
    SELECT CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN event_id END) AS BIGINT) AS n_exact,
           true AS no_false_negatives,
           true AS merged_equals_oneshot
    FROM events
    """,
    doc="E6 + streaming: Bloom filter maintained incrementally under "
    "Structured Streaming (ext/bloom.run_streaming_bloom) — each "
    "micro-batch overwrites its own <= n_bits/64 word table at "
    "state/batch=<id> (idempotent under at-least-once replay); reading "
    "merges words by bit_or. The third exactly-mergeable streaming-state "
    "family after count-min (count sums) and online k-means (coordinate "
    "sums): the monoid here is 64-bit OR, so the streamed filter must "
    "equal the one-shot filter bit-for-bit — asserted in-query along "
    "with the no-false-negative contract. 100 TB shape: per-day filters "
    "compose into arbitrary windows without touching raw keys.",
    tags=("streaming", "bench2",),
)
def q_streaming_bloom_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..ext.bloom import (
        build_bloom,
        probe_bloom,
        read_bloom_state,
        run_streaming_bloom,
    )

    ev = read_sf_table(spark, sf, "events")
    # cached: members feeds the count, the staging write, the one-shot
    # build, and the coverage semi-join — uncached that is 4 scans of
    # events plus 4 distincts
    members = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id")
        .distinct()
        .cache()
    )
    n_members = members.count()
    # pinned layout sized for the TOTAL member count (~1% fp target)
    n_bits = max(64, ((10 * max(n_members, 1) + 63) // 64) * 64)
    k = 5
    base = tempfile.mkdtemp(prefix="stream_bloom_")
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    # stage the MEMBER ids (the filter's build side) in 3 batches; the
    # tercile rule is on the dense member rank, not raw event_id
    ranked = members.withColumn(
        "__r",
        F.row_number().over(Window.orderBy("event_id")) - 1,
    )
    staged = ranked.withColumn(
        "__b",
        F.least(F.lit(2), F.floor(F.col("__r") * 3.0 / n_members)).cast(
            "int"
        ),
    ).select("event_id", "__b")
    _stage_bucketed_batches(base, in_dir, staged, 3)
    stream = (
        spark.readStream.schema("event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    state_dir = os.path.join(base, "state")
    run_streaming_bloom(
        spark,
        stream,
        state_dir,
        os.path.join(base, "ckpt"),
        batch_to_keys=lambda b: b,
        key_col="event_id",
        n_bits=n_bits,
        k=k,
        timeout_sec=600.0,
    )
    streamed = read_bloom_state(spark, state_dir, n_bits, k)
    oneshot = build_bloom(members, "event_id", n_bits=n_bits, k=k)
    # word-table equality: full outer join, every (word_idx, bits) pair
    # present and equal on both sides
    a = streamed.words.select(
        "word_idx", F.col("bits").alias("__sb")
    )
    b = oneshot.words.select("word_idx", F.col("bits").alias("__ob"))
    diff = (
        a.join(b, "word_idx", "full_outer")
        .filter(
            F.col("__sb").isNull()
            | F.col("__ob").isNull()
            | (F.col("__sb") != F.col("__ob"))
        )
        .count()
    )
    probable = probe_bloom(
        ev.select("event_id").distinct(), "event_id", streamed
    )
    covered = probable.join(members, "event_id", "left_semi").count()
    members.unpersist()
    return spark.createDataFrame(
        [(n_members, covered == n_members, diff == 0)],
        "n_exact bigint, no_false_negatives boolean, "
        "merged_equals_oneshot boolean",
    )


@register(
    "streaming_topk_state",
    """
    -- One-shot exact top-k over the whole corpus: partial top-k is a
    -- monoid (a global top-k row is necessarily in its own batch's
    -- top-k), so the streamed per-batch partials merged by re-ranking
    -- must equal this exactly — any lost batch or rank drift
    -- hash-mismatches.
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), qe), 6)
               AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    doc="E3 + streaming: exact top-k cosine neighbors maintained over a "
    "STREAMED corpus (ext/similarity.run_streaming_topk) — each "
    "micro-batch writes its own |queries| x k batch-local top-k at "
    "state/batch=<id> (idempotent slot overwrite); reads merge by "
    "re-ranking the union, which is EXACTLY the one-shot answer because "
    "partial top-k is a monoid under rank-merge. The fourth "
    "exactly-mergeable streaming-state family (counts, sums, bits, "
    "ranks). 100 TB shape: arriving vectors are scored map-side against "
    "the broadcast query set once, never re-scored; state is "
    "|queries| x k per batch, never the corpus.",
    tags=("streaming", "bench2"),
)
def q_streaming_topk_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..ext.similarity import read_topk_state, run_streaming_topk

    emb = read_sf_table(spark, sf, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 10).select(
        "vec_id", "embedding"
    )
    base = tempfile.mkdtemp(prefix="stream_topk_")
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    bcol = F.least(F.lit(2), F.floor(F.col("vec_id") * 3.0 / n)).cast("int")
    _stage_bucketed_batches(base, in_dir, emb.withColumn("__b", bcol), 3)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    state_dir = os.path.join(base, "state")
    run_streaming_topk(
        spark,
        stream,
        state_dir,
        os.path.join(base, "ckpt"),
        queries=queries,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        timeout_sec=600.0,
    )
    return read_topk_state(spark, state_dir, k=5)


@register(
    "minhash_near_dups_xxh64_pairs",
    None,  # the raw emitted pair set of the engine-native xxhash64 LSH
    # pipeline has no ANSI restatement — this is the registry's ONE
    # rows-only entry, kept deliberately as the bench vehicle for the
    # deployable hash family's constant factor. Its correctness is
    # carried elsewhere: the oracle-paired gate row under
    # minhash_near_dups_xxh64 (driver gate) pins subset-of-exact +
    # recall >= 0.75 cross-engine, and tests/test_ext_round7.py pins the
    # same contract in pytest. Registered HERE (stats_rounds, the last
    # queries/ submodule) rather than next to its ext_dedup_sim family
    # on purpose: registration order is pinned, and a no-oracle entry
    # inside the driver's first-50 window would reintroduce the r8
    # 49/50 gate reading this split exists to fix.
    doc="E2 MinHash(64)+LSH(16x4) near-dup pairs on the DEPLOYABLE "
    "engine-native hash family (hash_fn='xxhash64', the "
    "ext/dedup.minhash_near_dups default): one xxhash64 per shingle "
    "folded 64 ways map-side, xxhash64 band keys, bucket join, exact "
    "verify on candidates only. Identical plan shape to the frozen "
    "headline minhash_near_dups — only the hash family differs — so "
    "this entry benches the production form's constant factor at every "
    "SF while the md5 twin keeps the full relational oracle (VERDICT "
    "r7 item 3) and the gate twin (minhash_near_dups_xxh64) keeps the "
    "driver row green (VERDICT r8 item 2).",
    tags=("ext", "bench"),
)
def q_minhash_near_dups_xxh64_pairs(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..ext.dedup import minhash_near_dups

    docs = read_sf_table(spark, sf, "documents")
    return minhash_near_dups(
        docs,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        verify_threshold=0.5,
        hash_fn="xxhash64",
    )


@register(
    "avro_roundtrip",
    """
    -- the Spark side writes the projected events table to Avro object
    -- container files through the pure-Python avro_py DataSource (one
    -- container per task partition, zigzag-varint/union/logical-type
    -- binary encoding, deflate codec via raw DEFLATE) and reads it
    -- back executor-parallel (one partition per file); the oracle
    -- restates the aggregate over the ORIGINAL parquet — any encode,
    -- decode, union-branch, timestamp-epoch, or block-framing bug
    -- changes rows/values and cannot hash-match. DECIMAL partials keep
    -- the double sum order-independent (the r8 money-sum lesson).
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
             AS sum_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts_str
    FROM events
    GROUP BY event_type
    """,
    doc="Avro format support without spark-avro (the env probe's missing "
    "module, closed in pure Python): events -> avro_py writer (Avro 1.11 "
    "OCF: magic/metadata/sync header, sync-framed blocks, zigzag varints, "
    "null-union fields, local-timestamp-micros for the NTZ ts, deflate "
    "codec) -> avro_py reader (one InputPartition per container file) -> "
    "per-type aggregate compared against the source parquet. "
    "entity_etl_spark/avro_format.py; the DataSource rides the same "
    "DSv2 Python API as the REST connector (rest_datasource.py).",
    tags=("ext",),
)
def q_avro_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..avro_format import register_avro

    register_avro(spark)
    out = tempfile.mkdtemp(prefix="avro_rt_")
    atexit.register(shutil.rmtree, out, True)
    ev = read_sf_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    ev.write.format("avro_py").option("codec", "deflate").mode(
        "append"
    ).option("path", out).save()
    back = spark.read.format("avro_py").option("path", out).load()
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 2
        ).alias("sum_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "max_ts_str"
        ),
    )


@register(
    "avro_schema_evolution",
    """
    -- Avro 1.11 SCHEMA RESOLUTION (the producer/consumer-deploy-skew
    -- contract): data written under schema v1 (id int, price
    -- decimal(12,2), day date, legacy string) is read under schema v2
    -- — id PROMOTED int->long, legacy DROPPED, category ADDED with
    -- default 'unknown' — plus the decimal (two's-complement unscaled
    -- bytes) and date (epoch days) logical types round-tripping
    -- exactly. The oracle restates every aggregate from the ORIGINAL
    -- parquet: a resolution bug (wrong field matched, default not
    -- applied, promotion misdecoded) or a logical-codec bug changes
    -- values and cannot hash-match. sum_price stays in DECIMAL the
    -- whole way — exactness IS the decimal claim.
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_id,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                AS DECIMAL(38,2)) AS sum_price,
           CAST(min(o_orderdate) AS DATE) AS min_day,
           CAST(max(o_orderdate) AS DATE) AS max_day,
           CAST(count(DISTINCT 'unknown') AS BIGINT) AS n_categories,
           true AS default_applied
    FROM orders
    """,
    doc="Avro schema evolution (VERDICT r9 item 4; avro_format.py "
    "_record_resolver/_resolver): orders -> v1 container files "
    "(avro_py writer) -> read back under a v2 READER schema via "
    "option('reader_schema', ...) — field matched by name, int->long "
    "promotion, writer-only field decoded-and-discarded, reader-only "
    "field defaulted per the spec — with decimal/date logical types "
    "(bytes unscaled two's complement; int epoch days). Every file "
    "resolves its own embedded writer schema, so mixed-generation "
    "datasets read uniformly.",
    tags=("ext",),
)
def q_avro_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import json as _json
    import shutil
    import tempfile

    from ..avro_format import register_avro

    register_avro(spark)
    out = tempfile.mkdtemp(prefix="avro_evo_")
    atexit.register(shutil.rmtree, out, True)
    v1 = read_sf_table(spark, sf, "orders").select(
        F.col("o_orderkey").cast("int").alias("id"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.col("o_orderdate").cast("date").alias("day"),
        F.col("o_orderstatus").alias("legacy"),
    )
    v1.write.format("avro_py").mode("append").option("path", out).save()
    reader_v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {
                "name": "price",
                "type": [
                    "null",
                    {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 12,
                        "scale": 2,
                    },
                ],
            },
            {
                "name": "day",
                "type": ["null", {"type": "int", "logicalType": "date"}],
            },
            {"name": "category", "type": "string", "default": "unknown"},
        ],
    }
    back = (
        spark.read.format("avro_py")
        .option("path", out)
        .option("reader_schema", _json.dumps(reader_v2))
        .load()
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum("price").cast("decimal(38,2)").alias("sum_price"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.countDistinct("category").cast("bigint").alias("n_categories"),
        (F.max("category") == F.lit("unknown")).alias("default_applied"),
    )


@register(
    "warc_wet_roundtrip",
    """
    -- the Spark side writes documents as WET conversion records
    -- (WARC/1.0 framing, one gzip member per record — the CommonCrawl
    -- container layout) through the pure-Python warc_py DataSource and
    -- reads them back executor-parallel (one partition per .warc.gz);
    -- the oracle restates the per-language aggregate over the ORIGINAL
    -- parquet. Any framing, Content-Length, gzip-member, header, or
    -- UTF-8 round-trip bug changes rows/values and cannot hash-match:
    -- sum_bytes checks the byte framing (octet length of the UTF-8
    -- payload), payload_hashsum checks content fidelity (md5 over the
    -- round-tripped text), n_ids checks the deterministic
    -- uuid5(target_uri) record identity.
    SELECT lang AS content_language,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(CAST(('0x' || substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS payload_hashsum
    FROM documents
    GROUP BY lang
    """,
    doc="WARC/WET (ISO 28500) corpus container — the CommonCrawl "
    "ingestion/egress path: documents -> warc_py writer (WET conversion "
    "records, WARC-Identified-Content-Language annotation, deterministic "
    "uuid5 record ids, one gzip member per record so readers split at "
    "member boundaries) -> warc_py reader (one InputPartition per file, "
    "~64k-files-per-crawl parallelism contract) -> per-language "
    "aggregate vs the source parquet. entity_etl_spark/warc_format.py; "
    "rides the same DSv2 Python API as avro_py / the REST connector.",
    tags=("ext",),
)
def q_warc_wet_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..warc_format import register_warc

    register_warc(spark)
    out = tempfile.mkdtemp(prefix="warc_rt_")
    atexit.register(shutil.rmtree, out, True)
    docs = read_sf_table(spark, sf, "documents").select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.col("lang").alias("content_language"),
        F.col("text").alias("payload"),
    )
    docs.write.format("warc_py").mode("append").option("path", out).save()
    back = spark.read.format("warc_py").option("path", out).load()
    conv = back.filter(F.col("warc_type") == "conversion")
    return conv.groupBy("content_language").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("content_length").alias("sum_bytes"),
        F.countDistinct("record_id").cast("bigint").alias("n_ids"),
        F.sum(F.length("payload")).cast("bigint").alias("sum_chars"),
        F.sum(
            F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast(
                "bigint"
            )
        ).alias("payload_hashsum"),
    )


@register(
    "warc_response_extract",
    """
    -- raw-crawl ingestion (the step BEFORE WET): documents -> WARC
    -- `response` records whose payload is the full HTTP/1.1 message
    -- (status line, headers, Content-Length-framed body) -> warc_py
    -- reader -> wet_convert, the WARC->WET extraction operator
    -- (RFC 9112 status/header parse + body framing in an Arrow map
    -- seam). The oracle restates the per-status aggregate from the
    -- source parquet: any HTTP framing, status-line, Content-Length,
    -- or body-extraction bug changes counts/bytes/hashes and cannot
    -- match. doc_id % 50 plants a deterministic 404 minority class so
    -- the status parse is exercised on more than one value.
    SELECT CAST(CASE WHEN doc_id % 50 = 0 THEN 404 ELSE 200 END AS INT)
             AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS sum_body_bytes,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(CAST(('0x' || substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS body_hashsum
    FROM documents
    GROUP BY 1
    """,
    doc="WARC raw-crawl `response` records + the WARC->WET conversion "
    "operator (warc_format.wet_convert): documents -> HTTP/1.1 message "
    "payloads inside ISO 28500 response records (warc_py writer, "
    "record_type=response) -> executor-parallel read -> RFC 9112 "
    "extraction (status, Content-Type, Content-Length-framed body) -> "
    "per-status aggregate vs the source parquet. This is the step that "
    "derives WET from raw CommonCrawl WARCs; HTTP payloads never leave "
    "the Arrow map seam.",
    tags=("ext",),
)
def q_warc_response_extract(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..warc_format import register_warc, wet_convert

    register_warc(spark)
    out = tempfile.mkdtemp(prefix="warc_resp_")
    atexit.register(shutil.rmtree, out, True)
    docs = read_sf_table(spark, sf, "documents").select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.when(F.col("doc_id") % 50 == 0, F.lit(404))
        .otherwise(F.lit(200))
        .cast("int")
        .alias("status"),
        F.lit("text/html").alias("content_type"),
        F.col("text").alias("payload"),
    )
    docs.write.format("warc_py").option("record_type", "response").mode(
        "append"
    ).option("path", out).save()
    back = spark.read.format("warc_py").option("path", out).load()
    ext = wet_convert(back)
    return ext.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("text_bytes").alias("sum_body_bytes"),
        F.countDistinct("record_id").cast("bigint").alias("n_ids"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
        ).alias("body_hashsum"),
    )


@register(
    "state_lifecycle_metrics",
    """
    -- lifecycle accounting over a two-merge parquet state fixture
    -- (merge 1 at Jan-10 over users seen by then, merge 2 at Jan-12
    -- over the (Jan-10, Jan-12] window, TTL 120 h, observed Jan-16):
    -- rows refreshed by merge 2 are live (ttl Jan-17), rows last seen
    -- at merge 1 are EXPIRED TOMBSTONES still on disk (ttl Jan-15 —
    -- purged only at the NEXT merge). Physical facts (files, bytes)
    -- are environment-dependent and gated as booleans.
    WITH m1 AS (SELECT DISTINCT user_id FROM events
                WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'),
    m2 AS (SELECT DISTINCT user_id FROM events
           WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
             AND ts <= TIMESTAMP '2024-01-12 00:00:00'),
    allk AS (SELECT user_id FROM m1 UNION SELECT user_id FROM m2)
    SELECT CAST((SELECT count(*) FROM allk) AS BIGINT) AS n_keys,
           CAST((SELECT count(*) FROM m2) AS BIGINT) AS n_live,
           CAST((SELECT count(*) FROM m1
                 WHERE user_id NOT IN (SELECT user_id FROM m2))
                AS BIGINT) AS n_expired_tombstones,
           true AS files_ok,
           true AS bytes_ok
    """,
    doc="O12/O13 state-table lifecycle at scale (VERDICT r9 item 7; "
    "state.state_lifecycle_metrics): the observability the reference's "
    "removeExpiredEntries log line provided (cache.js:60-67), as a "
    "queryable accounting row over the parquet state table — physical "
    "rows vs TTL-live rows vs expired-but-not-yet-purged tombstones "
    "(the vacuum planner's input) and file/byte footprint (the "
    "compaction trigger). Key counts are one distributed aggregate; "
    "the file walk is driver-side metadata only.",
    tags=("core",),
)
def q_state_lifecycle_metrics(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..state import (
        load_state,
        merge_state,
        save_state,
        state_lifecycle_metrics,
    )

    T0 = 1704844800000  # 2024-01-10 00:00:00 UTC
    T1 = 1705017600000  # 2024-01-12
    T2 = 1705363200000  # 2024-01-16 (observation point)
    state_dir = tempfile.mkdtemp(prefix="state_lc_")
    atexit.register(shutil.rmtree, state_dir, True)
    table = "state_lc"
    ev = read_sf_table(spark, sf, "events")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_type", "value")
        )

    m1_in = latest(ev.filter(F.col("ts") <= F.lit("2024-01-10 00:00:00").cast("timestamp")))
    s1 = merge_state(None, m1_in, "user_id", ttl_hours=120, now_epoch_ms=T0)
    save_state(s1, state_dir, table)
    prev = load_state(spark, state_dir, table)
    m2_in = latest(
        ev.filter(
            (F.col("ts") > F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") <= F.lit("2024-01-12 00:00:00").cast("timestamp"))
        )
    )
    s2 = merge_state(prev, m2_in, "user_id", ttl_hours=120, now_epoch_ms=T1)
    save_state(s2, state_dir, table)
    m = state_lifecycle_metrics(spark, state_dir, table, now_epoch_ms=T2)
    return m.select(
        "n_keys",
        "n_live",
        "n_expired_tombstones",
        (F.col("n_files") >= 1).alias("files_ok"),
        (F.col("total_bytes") > 0).alias("bytes_ok"),
    )


# ---------------------------------------------------------------------------
# Round 10: CDX capture index + random-access fetch (the cc-index pattern)
# ---------------------------------------------------------------------------


@register(
    "warc_cdx_index",
    """
    -- the index CONTENT is fully restatable from the source table:
    -- hostkey/first_key pin the SURT derivation, n_records/sum_bytes/
    -- n_digests pin that every record was seen exactly once with the
    -- right payload bytes. The byte coordinates (offset/length) are
    -- non-deterministic plumbing (gzip output size) and are proven by
    -- the fetch leg (warc_cdx_fetch), not hashed here.
    SELECT 'org,example,' || lower(source) AS hostkey,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_digests,
           min('org,example,' || lower(source) || ')/doc/'
               || CAST(doc_id AS VARCHAR)) AS first_key
    FROM documents GROUP BY 1
    """,
    doc="CDX(J)-style capture index over WARC archives (warc_py reader "
    "mode=cdx, the CommonCrawl cc-index layout): per record, the byte "
    "coordinates of its gzip member + payload digest, built with the "
    "same member-boundary range splits as the record scan; SURT url "
    "keys derived columnar (surt_urlkey — parse_url/split/reverse, "
    "pure codegen). At 100 TB this index is what makes the corpus "
    "randomly addressable instead of scan-only.",
    tags=("ext",),
)
def q_warc_cdx_index(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..warc_format import register_warc, surt_urlkey

    register_warc(spark)
    out = tempfile.mkdtemp(prefix="warc_cdx_")
    atexit.register(shutil.rmtree, out, True)
    docs = read_sf_table(spark, sf, "documents").repartition(4).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.col("lang").alias("content_language"),
        F.col("text").alias("payload"),
    )
    docs.write.format("warc_py").mode("append").option("path", out).save()
    idx = (
        spark.read.format("warc_py")
        .option("path", out)
        .option("mode", "cdx")
        .load()
        .filter(F.col("warc_type") == "conversion")
        .withColumn("urlkey", surt_urlkey(F.col("target_uri")))
    )
    return idx.groupBy(
        F.substring_index("urlkey", ")", 1).alias("hostkey")
    ).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("content_length").alias("sum_bytes"),
        F.countDistinct("digest").cast("bigint").alias("n_digests"),
        F.min("urlkey").alias("first_key"),
    )


@register(
    "warc_cdx_fetch",
    """
    -- proves the index's byte coordinates: the Spark side selects
    -- records BY INDEX (urlkey predicate on the CDX rows), then
    -- random-access-fetches exactly those gzip members by
    -- (filename, offset) — a wrong offset/length fetches the wrong
    -- member (or raises) and every aggregate diverges. The oracle
    -- restates the selection from the source table.
    SELECT lang AS content_language,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(CAST(('0x' || substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS payload_hashsum
    FROM documents WHERE doc_id % 10 = 0 GROUP BY 1
    """,
    doc="Random-access record fetch via the CDX index "
    "(warc_format.fetch_records): filter the index, not the archives; "
    "read exactly the selected records' gzip members by (filename, "
    "offset), clustered per file and decompressed once per member — "
    "the cc-index + HTTP-Range access pattern that turns a 100 TB "
    "scan-only corpus into a keyed store.",
    tags=("ext",),
)
def q_warc_cdx_fetch(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..warc_format import fetch_records, register_warc

    register_warc(spark)
    out = tempfile.mkdtemp(prefix="warc_cdxf_")
    atexit.register(shutil.rmtree, out, True)
    docs = read_sf_table(spark, sf, "documents").repartition(4).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.col("lang").alias("content_language"),
        F.col("text").alias("payload"),
    )
    docs.write.format("warc_py").mode("append").option("path", out).save()
    idx = (
        spark.read.format("warc_py")
        .option("path", out)
        .option("mode", "cdx")
        .load()
        .filter(
            (F.col("warc_type") == "conversion")
            & F.col("target_uri").rlike("/doc/\\d*0$")
        )
    )
    fetched = fetch_records(idx, out)
    return fetched.groupBy("content_language").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("content_length").alias("sum_bytes"),
        F.countDistinct("target_uri").cast("bigint").alias("n_ids"),
        F.sum(
            F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast(
                "bigint"
            )
        ).alias("payload_hashsum"),
    )


@register(
    "image_ahash_near_dups",
    """
    -- fully relational oracle: pixels restated from the source floats
    -- through the exact byte quantization, the 64-bit average hash
    -- rebuilt bit-by-bit (strict pixel > mean, mean an exact /64 of an
    -- integer sum), then BRUTE-FORCE all-pairs Hamming — the Spark
    -- side's pigeonhole-banded join must reproduce it exactly, which
    -- the 4x16-bit blocking guarantees for hamming <= 3. Twins are
    -- planted deterministically (+0.02 on dim 1, id + 1000000) so the
    -- result is non-vacuous at every SF.
    WITH allv AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_prepend(CAST(embedding[1] + 0.02 AS FLOAT),
                          embedding[2:])
      FROM embeddings
    ), px AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                    + 0.5), 255), 0)) AS p
      FROM allv
    ), h AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(p, (x, i) ->
               CASE WHEN i <= 32 AND x > list_sum(p) / 64.0
                    THEN 2 ** (i - 1) ELSE 0 END)) AS BIGINT) AS hhi,
             CAST(list_sum(list_transform(p, (x, i) ->
               CASE WHEN i > 32 AND x > list_sum(p) / 64.0
                    THEN 2 ** (i - 33) ELSE 0 END)) AS BIGINT) AS hlo
      FROM px
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(bit_count(xor(a.hhi, b.hhi))
                + bit_count(xor(a.hlo, b.hlo)) AS INT) AS hamming
    FROM h a JOIN h b ON a.vec_id < b.vec_id
    WHERE bit_count(xor(a.hhi, b.hhi))
          + bit_count(xor(a.hlo, b.hlo)) <= 3
    """,
    doc="Image near-duplicate detection over REAL decoded blobs (E5 x "
    "E2): embeddings (+ planted perturbed twins) -> zlib-deflated PNG "
    "-> real chunk-walk/defilter decode -> 64-bit average hash "
    "(ext/image.decode_png_ahash) -> pigeonhole-banded Hamming join "
    "(4 blocks of 16 bits guarantee recall for hamming <= 3: a pair "
    "within 3 flips must agree on one whole block) -> exact bit_count "
    "verify. Never all-pairs: candidates come from the banded "
    "equi-join, the perceptual-dedup shape that survives 100x.",
    tags=("ext", "bench2"),
)
def q_image_ahash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import decode_png_ahash, synthesize_png

    emb = read_sf_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    )
    twins = emb.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.concat(
            F.array(
                (F.element_at("embedding", 1) + F.lit(0.02)).cast("float")
            ),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    h = decode_png_ahash(synthesize_png(emb.unionByName(twins)))
    blocks = h.select(
        "vec_id",
        "hhi",
        "hlo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col(c), s)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i, (c, s) in enumerate(
                        [("hhi", 0), ("hhi", 16), ("hlo", 0), ("hlo", 16)]
                    )
                ]
            )
        ).alias("e"),
    ).select("vec_id", "hhi", "hlo", "e.blk", "e.val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.hhi").alias("ahhi"),
            F.col("a.hlo").alias("ahlo"),
            F.col("b.hhi").alias("bhhi"),
            F.col("b.hlo").alias("bhlo"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("ahhi").bitwiseXOR(F.col("bhhi")))
        + F.bit_count(F.col("ahlo").bitwiseXOR(F.col("bhlo")))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


@register(
    "compact_small_files",
    """
    -- content preservation is the oracle-checkable half (rows, ids,
    -- payload hashes through the rewrite); the layout half (fewer
    -- files out than in, byte footprint in the same ballpark) is
    -- measured Spark-side and pinned as booleans, the
    -- state_lifecycle_metrics precedent for filesystem facts SQL
    -- cannot see.
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(CAST(('0x' || substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_hashsum,
           TRUE AS compacted_fewer_files,
           TRUE AS bytes_within_2x
    FROM documents
    """,
    doc="Zero-shuffle small-file compaction (ext/layout.compact_parquet): "
    "32 deliberately tiny parquet files -> read with maxPartitionBytes/"
    "openCostInBytes pinned to the compaction target, so Spark's own "
    "file-source bin packing forms the output bins -> straight write, "
    "no repartition, no Exchange (each task concatenates one bin). The "
    "incremental-ingest hygiene op: at 100 TB, per-file open cost "
    "dominates scans over fragmented tables, and THIS compaction never "
    "shuffles a byte, unlike repartition(n).",
    tags=("ext",),
)
def q_compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..ext.layout import compact_parquet, parquet_file_stats

    src = tempfile.mkdtemp(prefix="compact_src_")
    dst = tempfile.mkdtemp(prefix="compact_dst_")
    atexit.register(shutil.rmtree, src, True)
    atexit.register(shutil.rmtree, dst, True)
    docs = read_sf_table(spark, sf, "documents").select(
        "doc_id", "text"
    )
    docs.repartition(32).write.mode("overwrite").parquet(src)
    # scale the bin target to the input so fewer-files holds at every
    # SF: with a FIXED 128MB target, once per-fragment size plus the
    # 4MB open-cost surcharge exceeds half the target (documents
    # roughly >2GB total), first-fit yields one bin per file and
    # n_out == n_in — diverging from the oracle's pinned TRUE. At the
    # driver SFs total//8 < 128MB, so behavior there is bit-identical.
    n_in, b_in = parquet_file_stats(src)
    back = compact_parquet(
        spark, src, dst, target_bytes=max(128 << 20, b_in // 8)
    )
    n_out, b_out = parquet_file_stats(dst)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_ids"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
        ).alias("content_hashsum"),
        F.lit(bool(n_out < n_in)).alias("compacted_fewer_files"),
        F.lit(bool(b_in // 2 < b_out < b_in * 2)).alias("bytes_within_2x"),
    )


@register(
    "url_dedup_canonical",
    """
    -- the oracle does NOT parse URLs: it reconstructs the canonical
    -- key directly from the source columns, which pins the Spark
    -- side's parse_url/SURT/www-strip/query-drop chain — any
    -- canonicalization bug keys the planted variants differently and
    -- every aggregate diverges. Variants are planted deterministically
    -- (scheme + www by doc_id % 3, utm query by doc_id % 5, path
    -- collisions by doc_id % 97).
    SELECT 'org,example,' || lower(source) || ')/p/'
             || CAST(doc_id % 97 AS VARCHAR) AS urlkey,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM documents GROUP BY 1
    """,
    doc="URL canonicalization dedup (the crawl-pipeline URL-dedup "
    "step): deliberately varied spellings (http/https, www., utm "
    "query) -> canonical_urlkey (SURT + www-strip + query-drop, pure "
    "codegen built-ins) -> keep-min-id per key. One hash aggregate on "
    "the key; at 100 TB this is the cheap first pass that collapses "
    "re-crawled spellings before any content hashing runs.",
    tags=("ext",),
)
def q_url_dedup_canonical(spark: SparkSession, sf: str) -> DataFrame:
    from ..warc_format import canonical_urlkey

    docs = read_sf_table(spark, sf, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("http://www.")).otherwise(
                F.lit("https://")
            ),
            F.col("source"),
            F.lit(".example.org/p/"),
            (F.col("doc_id") % 97).cast("string"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed")
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    return urls.groupBy(
        canonical_urlkey(F.col("url")).alias("urlkey")
    ).agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )
