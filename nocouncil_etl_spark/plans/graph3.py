"""Graph wave 3: community detection and graph-based keyword extraction.

- ``graph_label_propagation`` — synchronous label propagation (Raghavan et
  al., 2007) over the deterministic link graph (graph_plans._EDGES_SQL),
  fixed rounds, min-label tie-break; emits community sizes. The standard
  cheap community detector at web scale (no modularity matrix, just
  neighbor majorities — one equi-join + one windowed agg per round).
- ``text_textrank_keywords`` — TextRank (Mihalcea & Tarau, 2004): weighted
  PageRank over the term co-occurrence graph (adjacent tokens, vocabulary-
  bounded), integer fixed-point exactly like graph_plans.pagerank — the
  unsupervised keyword extractor for corpus labeling at 100 TB (the LLM
  extract_entities seam is the supervised sibling).

Both oracles unroll one CTE per iteration over identical integer
arithmetic (the technique proven on PageRank/k-core/Markov), so the
iterative algorithms get exact value-hash checks, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.graph import (
    SCALE,
    _release_checkpoint,
    pagerank_fixed_point,
)
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

LPA_ROUNDS = 4
TR_ITERS = 6
TR_VOCAB = 40
TR_TOP = 15


# --------------------------------------------------------------------------
# 1. Label propagation communities
# --------------------------------------------------------------------------


def _lpa_cte_body() -> str:
    """The shared unrolled-LPA CTE chain (through ``lab{LPA_ROUNDS}``) —
    spliced into both the community and the modularity oracles."""
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append("""
und AS (SELECT src AS a, dst AS b FROM edges0 UNION SELECT dst, src FROM edges0),
lab0 AS (SELECT node, node AS lab FROM nodes)""")
    for k in range(LPA_ROUNDS):
        cte.append(f""",
cnt{k} AS (
  SELECT u.a AS node, l.lab, CAST(count(*) AS BIGINT) AS c
  FROM und u JOIN lab{k} l ON l.node = u.b GROUP BY 1, 2
),
best{k} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM cnt{k}
  ) WHERE rn = 1
),
lab{k + 1} AS (
  SELECT p.node, coalesce(b.lab, p.lab) AS lab
  FROM lab{k} p LEFT JOIN best{k} b ON b.node = p.node
)""")
    return "".join(cte)


def _lpa_oracle() -> str:
    return (
        _lpa_cte_body()
        + f"""
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(node) AS BIGINT) AS min_node, CAST(max(node) AS BIGINT) AS max_node
FROM lab{LPA_ROUNDS} GROUP BY lab"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{LPA_ROUNDS} synchronous label-propagation rounds on the undirected
    link graph: every node starts as its own community, then repeatedly
    adopts its neighbors' majority label (ties → smallest label — the total
    order that makes synchronous LPA deterministic enough to value-hash).
    Fixed round count rather than convergence detection: synchronous LPA
    can 2-cycle, and a bounded round budget is also what you run at scale
    (each round = one shuffle; an unbounded loop is an unbounded shuffle
    bill). Emits (community, n_members, min/max member).

    Scale shape: per round, one equi-join of the undirected edge list
    against the label table (both partitioned by node id) + one
    (node,label) hash-agg + one per-node top-1 window — all key-partitioned,
    no global sort, lineage bounded by the fixed round count. The undirected
    edge list is persisted for the rounds (same caller-owns-cache contract
    as operators/graph.pagerank_fixed_point — one bounded edge-list cache
    per invocation, released with the session)."""
    lab, _und, _edges = _lpa_labels(spark, sf_dir)
    out = lab.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )
    return out


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA kernel: returns (labels(node, lab) after LPA_ROUNDS,
    persisted undirected edge frame, raw edges) — consumed by both
    graph_label_propagation and graph_modularity_score so the partition
    under evaluation is the partition that was produced. The labels come
    back persisted and materialized (modularity reads them three times)
    with every round checkpoint released; the caller owns both caches."""
    nodes, edges, _n = _graph(spark, sf_dir)
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
        # r11 opt: pre-partition the cached edge list by the probe key so
        # every round's edges⋈labels join reuses the cached partitioning
        # instead of re-shuffling the (largest) edge side per round
        # (guide §2.4: two operations keyed the same way share one
        # exchange; InMemoryRelation preserves outputPartitioning)
        .repartition("b")
    )
    und.persist()
    lab = nodes.select("node", F.col("node").alias("lab"))
    rounds = []
    for _ in range(LPA_ROUNDS):
        cnt = (
            und.join(
                lab.select(F.col("node").alias("b"), "lab"), "b"
            )
            .groupBy(F.col("a").alias("node"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # r11 opt (guide §2.3): the per-node majority used to be a
        # row_number window (sort) + a LEFT JOIN back onto the label table
        # for nodes with no neighbors — two more exchanges and a per-node
        # sort per round. Both collapse into ONE partial-aggregable hash
        # agg: every node contributes its own label at count 0 (it loses
        # to any real neighbor count ≥ 1 and wins exactly when the node
        # has no neighbor labels — the coalesce semantics), and
        # max(struct(c, -lab, lab)) is the (c DESC, lab ASC) argmax.
        cand = cnt.unionByName(
            lab.select("node", "lab", F.lit(0).cast("long").alias("c"))
            .select("node", "lab", "c")
        )
        lab = (
            cand.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c"),
                        (-F.col("lab")).alias("neg"),
                        F.col("lab").alias("l"),
                    )
                )["l"].alias("lab")
            )
            # bounded-lineage contract (operators/graph.py): each round's
            # label state re-roots the next round's plan, so Catalyst
            # re-analyzes a constant-size tree instead of a per-round
            # doubling (lab feeds both the join and the own-label union)
            .localCheckpoint(eager=False)
        )
        rounds.append(lab)
    # the round checkpoints are out of clearCache()'s reach: materialize
    # the final labels into the cache, then release every round
    lab = lab.persist()
    lab.count()
    for cp in rounds:
        _release_checkpoint(cp)
    return lab, und, edges


# --------------------------------------------------------------------------
# 2. TextRank keywords
# --------------------------------------------------------------------------

_TR_BASE_SQL = f"""
tok AS (
  SELECT doc_id, {_TOK_SQL} AS l FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT t.term, CAST(count(DISTINCT s.doc_id) AS BIGINT) AS df
    FROM (SELECT doc_id, unnest(l) AS term FROM tok) s
    JOIN (SELECT DISTINCT unnest(l) AS term FROM tok) t ON s.term = t.term
    GROUP BY t.term
  ) ORDER BY df DESC, term LIMIT {TR_VOCAB}
),
adj AS (
  SELECT least(l[CAST(p.i AS INT)], l[CAST(p.i AS INT) + 1]) AS a,
         greatest(l[CAST(p.i AS INT)], l[CAST(p.i AS INT) + 1]) AS b
  FROM tok, LATERAL (SELECT unnest(range(1, len(l))) AS i) p
  WHERE l[CAST(p.i AS INT)] <> l[CAST(p.i AS INT) + 1]
),
wedges AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS w
  FROM adj
  WHERE a IN (SELECT term FROM vocab) AND b IN (SELECT term FROM vocab)
  GROUP BY a, b
),
und AS (
  SELECT a AS u, b AS t, w FROM wedges UNION ALL SELECT b, a, w FROM wedges
),
wdeg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wd FROM und GROUP BY u),
prop AS (SELECT und.u, und.t, und.w, wdeg.wd FROM und JOIN wdeg ON wdeg.u = und.u),
tnodes AS (SELECT term FROM vocab),
tmeta AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM tnodes)
"""


def _tr_oracle() -> str:
    cte = [f"WITH {_TR_BASE_SQL},"]
    cte.append(
        f"r0 AS (SELECT term, {SCALE}::BIGINT // (SELECT nv FROM tmeta) AS r FROM tnodes)"
    )
    for k in range(TR_ITERS):
        cte.append(f""",
agg{k} AS (
  SELECT p.t AS term, CAST(sum((r.r * p.w) // p.wd) AS BIGINT) AS c
  FROM prop p JOIN r{k} r ON r.term = p.u GROUP BY p.t
),
r{k + 1} AS (
  SELECT n.term,
         (15::BIGINT * {SCALE}) // (100 * (SELECT nv FROM tmeta))
           + (85 * coalesce(a.c, 0)) // 100 AS r
  FROM tnodes n LEFT JOIN agg{k} a ON a.term = n.term
)""")
    cte.append(f"""
SELECT term, rank_1e9, rk FROM (
  SELECT term, r AS rank_1e9,
         CAST(row_number() OVER (ORDER BY r DESC, term) AS INT) AS rk
  FROM r{TR_ITERS}
) WHERE rk <= {TR_TOP}""")
    return "".join(cte)


@query("text_textrank_keywords", oracle=_tr_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: build the adjacent-token co-occurrence
    graph restricted to the top-{TR_VOCAB}-df vocabulary (edge weight =
    corpus co-occurrence count, undirected), then run {TR_ITERS} weighted
    PageRank iterations in integer fixed point — contribution of term u to
    neighbor t is (r·w_ut)//wdeg_u, teleport 0.15 — and emit the top
    {TR_TOP} keywords. Integer arithmetic end-to-end: the oracle replays
    every iteration as an unrolled CTE and the value hash must agree.

    Scale shape: the token stream collapses to vocabulary-bounded state
    immediately (adjacent pairs filtered to vocab² before the count agg);
    the rank iterations run on a ≤{TR_VOCAB}-node graph — broadcast-sized
    regardless of corpus size, which is why TextRank scales: the corpus
    pass is one narrow scan, the iteration cost is O(vocab). The vocab-sized
    propagation table is persisted for the iterations (caller-owns-cache
    contract, as pagerank_fixed_point)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.expr(_TOK_SPARK).alias("l"))
    flat = tok.select("doc_id", F.explode("l").alias("term"))
    vocab = (
        flat.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(TR_VOCAB)
        .select("term")
    )
    adj = (
        tok.select(
            "l", F.explode(F.expr("sequence(1, size(l) - 1)")).alias("i")
        )
        .select(
            F.element_at("l", F.col("i").cast("int")).alias("x"),
            F.element_at("l", F.col("i").cast("int") + 1).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    va = vocab.select(F.col("term").alias("a"))
    vb = vocab.select(F.col("term").alias("b"))
    wedges = (
        adj.join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    und = wedges.select(
        F.col("a").alias("u"), F.col("b").alias("t"), "w"
    ).unionByName(
        wedges.select(F.col("b").alias("u"), F.col("a").alias("t"), "w")
    )
    wdeg = und.groupBy("u").agg(F.sum("w").cast("long").alias("wd"))
    prop = und.join(wdeg, "u")
    prop.persist()
    nv = vocab.count()  # ≤ TR_VOCAB — a chosen constant, not data-sized
    r = vocab.select("term", F.lit(SCALE // nv).cast("long").alias("r"))
    for _ in range(TR_ITERS):
        agg = (
            prop.join(r.select(F.col("term").alias("u"), "r"), "u")
            .groupBy(F.col("t").alias("term"))
            .agg(
                F.sum(F.expr("(r * w) div wd")).cast("long").alias("c")
            )
        )
        r = vocab.join(agg, "term", "left").select(
            "term",
            (
                F.lit(15 * SCALE // (100 * nv)).cast("long")
                + F.expr("(85 * coalesce(c, 0L)) div 100")
            ).alias("r"),
        )
    ranked = r.select(
        "term",
        F.col("r").alias("rank_1e9"),
        F.row_number()
        .over(Window.orderBy(F.desc("r"), "term"))
        .cast("int")
        .alias("rk"),
    )
    return ranked.filter(F.col("rk") <= TR_TOP)


# --------------------------------------------------------------------------
# 3. k-hop neighborhood sizes (bounded BFS features)
# --------------------------------------------------------------------------

KHOP = 3


def _khop_oracle() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append("""
und AS (SELECT src AS a, dst AS b FROM edges0 UNION SELECT dst, src FROM edges0),
reach1 AS (SELECT a AS node, b AS r FROM und)""")
    for k in range(2, KHOP + 1):
        cte.append(f""",
reach{k} AS (
  SELECT node, r FROM reach{k - 1}
  UNION
  SELECT p.node, u.b AS r
  FROM reach{k - 1} p JOIN und u ON u.a = p.r
  WHERE u.b <> p.node
)""")
    sizes = ", ".join(
        f"(SELECT count(*) FROM reach{k} r WHERE r.node = n.node) AS n_{k}hop"
        for k in range(1, KHOP + 1)
    )
    cte.append(f"""
SELECT n.node, {sizes} FROM nodes n""")
    return "".join(cte)


@query("graph_khop_neighborhood", oracle=_khop_oracle())
def graph_khop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop neighborhood sizes per node (hops 1..{KHOP}) on the
    undirected link graph — the classic graph features for influence /
    spam models (a node whose 3-hop ball is tiny sits in an isolated
    cluster; one whose ball explodes is a hub). Frontier expansion is the
    set-union BFS: reach_k = reach_{{k-1}} ∪ neighbors(reach_{{k-1}}),
    self excluded, each level an unrolled CTE in the oracle.

    Scale shape: each hop is one equi-join frontier expansion + a
    distinct — the frontier state is (node, reached) pairs, which is the
    honest cost of EXACT k-hop counts (at 100 TB one bounds it with
    HLL-sketched frontiers — the documented approximation; k stays small
    because that is the point of k-hop features)."""
    nodes, edges, _n = _graph(spark, sf_dir)
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    und.persist()
    reach = und.select(F.col("a").alias("node"), F.col("b").alias("r"))
    out = nodes
    for k in range(1, KHOP + 1):
        if k > 1:
            grown = (
                reach.join(
                    und.select(F.col("a").alias("r"), F.col("b").alias("r2")),
                    "r",
                )
                .filter(F.col("r2") != F.col("node"))
                .select("node", F.col("r2").alias("r"))
            )
            reach = reach.unionByName(grown).distinct()
            reach.persist()
        sz = reach.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{k}hop")
        )
        out = out.join(sz, "node", "left").withColumn(
            f"n_{k}hop", F.coalesce(F.col(f"n_{k}hop"), F.lit(0))
        )
    return out


# --------------------------------------------------------------------------
# 4. degree assortativity
# --------------------------------------------------------------------------


@query(
    "graph_assortativity",
    oracle=f"""
WITH {_EDGES_SQL},
und AS (SELECT src AS a, dst AS b FROM edges0 UNION SELECT dst, src FROM edges0),
degs AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY a),
epairs AS (
  SELECT da.deg AS x, db.deg AS y
  FROM und u JOIN degs da ON da.node = u.a JOIN degs db ON db.node = u.b
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM epairs
)
SELECT m AS n_directed_edges,
       round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS assortativity
FROM mom
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected link graph: Pearson
    correlation of endpoint degrees over all directed edge instances
    (both orientations — the standard Newman formulation). Positive ⇒
    hubs link to hubs (social-graph shape); negative ⇒ hub-and-spoke
    (web/citation shape). Five exact BIGINT moments over the edge list,
    one rounded double out.

    Scale shape: degree table = one hash-agg; the epair join is two keyed
    joins of the edge list against the (node, degree) table; moments are
    a 1-row agg. Linear in edges at any scale."""
    _nodes, edges, _n = _graph(spark, sf_dir)
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    und.persist()
    degs = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    epairs = (
        und.join(
            degs.select(F.col("node").alias("a"), F.col("deg").alias("x")),
            "a",
        )
        .join(
            degs.select(F.col("node").alias("b"), F.col("deg").alias("y")),
            "b",
        )
        .select("x", "y")
    )
    mom = epairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    m = F.col("m")
    return mom.select(
        m.alias("n_directed_edges"),
        F.round(
            (m * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (m * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
                * (m * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Modularity of the LPA partition
# --------------------------------------------------------------------------


def _modularity_oracle() -> str:
    return (
        _lpa_cte_body()
        + f""",
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges0
),
mtot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
degs AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY a),
ein AS (
  SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS e_in
  FROM canon c
  JOIN lab{LPA_ROUNDS} la ON la.node = c.a
  JOIN lab{LPA_ROUNDS} lb ON lb.node = c.b
  WHERE la.lab = lb.lab
  GROUP BY la.lab
),
dsum AS (
  SELECT l.lab AS community, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS deg_sum
  FROM lab{LPA_ROUNDS} l LEFT JOIN degs d ON d.node = l.node
  GROUP BY l.lab
)
SELECT ds.community, ds.n_members,
       CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, ds.deg_sum,
       round(CAST(coalesce(e.e_in, 0) AS DOUBLE) / (SELECT m FROM mtot)
             - (CAST(ds.deg_sum AS DOUBLE) / (2.0 * (SELECT m FROM mtot)))
               * (CAST(ds.deg_sum AS DOUBLE) / (2.0 * (SELECT m FROM mtot))), 6)
         + 0.0 AS q_part
FROM dsum ds LEFT JOIN ein e ON ds.community = e.community"""
    )


@query("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition, per community: q_part =
    e_in/m − (deg_sum/2m)², so Q = Σ q_part — the standard "are these
    communities denser than chance" score, computed for exactly the
    partition graph_label_propagation emits (shared _lpa_labels kernel).
    Detection without evaluation is half an operator; this is the other
    half.

    Scale shape: on top of the LPA rounds, one canonical-edge self-join
    against the label table (keyed on node), one degree agg, one
    community combine — all key-partitioned; the m normalizer is a 1-row
    broadcast."""
    lab, und, edges = _lpa_labels(spark, sf_dir)
    canon = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    mtot = canon.agg(F.count("*").cast("long").alias("m"))
    degs = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    la = lab.select(F.col("node").alias("a"), F.col("lab").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("lab").alias("lb"))
    ein = (
        canon.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    dsum = (
        lab.join(degs, "node", "left")
        .groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.coalesce("deg", F.lit(0))).cast("long").alias("deg_sum"),
        )
    )
    joined = dsum.join(ein, "community", "left").crossJoin(F.broadcast(mtot))
    half = F.col("deg_sum").cast("double") / (2.0 * F.col("m"))
    out = joined.select(
        "community",
        "n_members",
        F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
        "deg_sum",
        (
            F.round(
                F.coalesce("e_in", F.lit(0)).cast("double") / F.col("m")
                - half * half,
                6,
            )
            # + 0.0 normalizes IEEE negative zero: DuckDB's round keeps the
            # sign of a tiny negative (-0.0), Spark's does not — the values
            # compare equal but format differently in the value digest
            + F.lit(0.0)
        ).alias("q_part"),
    )
    out = out.persist()
    out.count()  # materialize, then release the upstream caches
    lab.unpersist()
    und.unpersist()
    return out


# --------------------------------------------------------------------------
# personalized PageRank (seeded restart)
# --------------------------------------------------------------------------

PPR_ITERS = 4
PPR_SEED_MOD = 50
PPR_TOPK = 25


def _ppr_oracle() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append(f"""
seeds AS (SELECT node FROM nodes WHERE node % {PPR_SEED_MOD} = 0),
smeta AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
ppr0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN {SCALE}::BIGINT // (SELECT ns FROM smeta) ELSE 0 END AS r
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
)""")
    for k in range(PPR_ITERS):
        cte.append(f""",
pagg{k} AS (
  SELECT e.dst AS node, CAST(sum(p.r // e.d) AS BIGINT) AS c
  FROM edges e JOIN ppr{k} p ON e.src = p.node GROUP BY e.dst
),
ppr{k + 1} AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN (15::BIGINT * {SCALE}) // (100 * (SELECT ns FROM smeta))
              ELSE 0 END
           + (85 * coalesce(a.c, 0)) // 100 AS r
  FROM nodes n
  LEFT JOIN seeds s ON n.node = s.node
  LEFT JOIN pagg{k} a ON n.node = a.node
)""")
    cte.append(f"""
SELECT node, is_seed, rank_1e9, rk FROM (
  SELECT p.node, s.node IS NOT NULL AS is_seed, p.r AS rank_1e9,
         CAST(row_number() OVER (ORDER BY p.r DESC, p.node) AS INT) AS rk
  FROM ppr{PPR_ITERS} p LEFT JOIN seeds s ON p.node = s.node
) WHERE rk <= {PPR_TOPK}""")
    return "".join(cte)


@query("graph_ppr_seeded", oracle=_ppr_oracle())
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: the restart mass concentrates on a SEED set
    (every {PPR_SEED_MOD}th node) instead of spreading uniformly —
    r_{{k+1}}(v) = 0.15·SCALE/|S|·[v∈S] + 0.85·Σ r_k(u)/deg(u) — so the
    stationary scores measure proximity TO THE SEEDS (the 'related
    documents / personalized recommendations' primitive; uniform-base
    PageRank is the global-importance special case). Same integer
    fixed-point discipline as graph_pagerank_topk, so the oracle replays
    the recurrence as {PPR_ITERS} unrolled CTEs exactly. Top-{PPR_TOPK}
    with seed flags — non-seed nodes ranking high are the discovery
    output.

    Scale shape: operators/graph.pagerank_fixed_point with the seed set
    as its per-node restart mass and initial rank — one exchange per
    iteration; seed membership is the node-id predicate itself."""
    nodes, edges, n = _graph(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % PPR_SEED_MOD == 0)
    ns = seeds.count()  # one scalar — the seed-set size
    ranks = pagerank_fixed_point(
        nodes,
        edges,
        n,
        PPR_ITERS,
        seeds=seeds.select(
            "node",
            F.lit((15 * SCALE) // (100 * ns)).alias("b"),
            F.lit(SCALE // ns).alias("r"),
        ),
    )
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return ranks.select(
        "node",
        (F.col("node") % PPR_SEED_MOD == 0).alias("is_seed"),
        F.col("r").alias("rank_1e9"),
        F.row_number().over(w).cast("int").alias("rk"),
    ).filter(F.col("rk") <= PPR_TOPK)
