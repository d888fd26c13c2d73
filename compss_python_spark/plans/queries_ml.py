"""Declared queries: ML / graph operators (SURVEY.md §2.8–2.9).

Most are rows-only (model fitting isn't SQL-expressible); evaluation-metric
and closed-form-regression queries keep a DuckDB oracle.  Deeper invariants
(cost decrease, accuracy floors, rank sums) are asserted in tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from compss_python_spark.plans.registry import query, table


def _kmeans_lloyd_sql(iters: int = 2, k: int = 8, dim: int = 64) -> str:
    """Unrolled Lloyd iterations (same generated-oracle pattern as the
    dangling-PageRank CTE chain): assignment = argmin distance with ties
    toward the smaller centroid id, update = element-wise mean via
    generate_series over dimensions."""
    parts = [f"""
    WITH
    pts AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT CAST(vec_id AS INT) AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {k}
    )"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    a{t} AS MATERIALIZED (
      SELECT vec_id, v, cid FROM (
        SELECT p.vec_id, p.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_distance(p.v, c.c), c.cid) AS rn
        FROM pts p CROSS JOIN c{t - 1} c) WHERE rn = 1
    ),
    c{t} AS MATERIALIZED (
      SELECT cid, list(m ORDER BY j) AS c FROM (
        SELECT cid, g.j, AVG(v[g.j]) AS m
        FROM a{t} CROSS JOIN generate_series(1, {dim}) AS g(j)
        GROUP BY cid, g.j) GROUP BY cid
    )""")
    parts.append(f"""
    SELECT p.vec_id, CAST(c.cid AS INT) AS cluster FROM (
      SELECT p.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                ORDER BY list_distance(p.v, c.c), c.cid) AS rn
      FROM pts p CROSS JOIN c{iters} c) AS c
    JOIN pts p ON p.vec_id = c.vec_id WHERE c.rn = 1""")
    return "".join(parts)


@query("ml_kmeans_lloyd_fixed_init", sql=_kmeans_lloyd_sql(), headline=True)
def ml_kmeans_lloyd_fixed_init(spark, sf_dir):
    """DataFrame-native Lloyd's K-Means with fixed initial centroids
    (vec_id 0..7), 2 iterations — fully deterministic, exact assignment
    parity with the unrolled SQL oracle.  Complements `ml_kmeans_sizes`
    (spark.ml k-means||, whose init is engine-internal)."""
    from compss_python_spark.ml.clustering import kmeans_lloyd

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, init_ids=list(range(8)), iters=2)


@query("ml_kmeans_sizes", sql=None)
def ml_kmeans_sizes(spark, sf_dir):
    """KMeans on embeddings: cluster sizes (seeded, but init is
    engine-specific → rows-only; cost-decrease asserted in tests)."""
    from compss_python_spark.ml.clustering import kmeans
    out, _model = kmeans(table(spark, sf_dir, "embeddings"), k=10, seed=42)
    return out.groupBy("cluster").agg(F.count("*").alias("n"))


@query(
    "ml_knn_predict",
    oracle_cost="superlinear",  # the exactness twin IS a test×train cross
    # join — quadratic by definition; it OOMs DuckDB at gen100 (100k×100k).
    # The ENGINE side is linear-in-test (chunked BLAS against the broadcast
    # train matrix) and completes at gen100 post the chunking fix.
    sql="""
    WITH train AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 2 = 0),
    test AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 2 = 1),
    neigh AS (
      SELECT t.vec_id, t.label, tr.label AS nlabel,
             ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                ORDER BY list_distance(t.embedding, tr.embedding), tr.vec_id) AS rn
      FROM test t CROSS JOIN train tr
    ),
    votes AS (SELECT vec_id, label, nlabel, COUNT(*) AS c
              FROM neigh WHERE rn <= 5 GROUP BY 1, 2, 3)
    SELECT vec_id, CAST(label AS INT) AS label, CAST(nlabel AS INT) AS prediction
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, nlabel ASC) AS vr
          FROM votes)
    WHERE vr = 1
    """,
)
def ml_knn_predict(spark, sf_dir):
    """Broadcast-train KNN on embeddings (train = even ids, test = odd).

    Exact-value oracle: k-nearest by euclidean distance then majority vote
    with ties toward the smaller label — both reproduced in SQL (the
    brute-force cross join is fine at oracle scale; the engine path is the
    BLAS batch×train matrix in ``ml.classification.knn``).
    """
    from compss_python_spark.ml.classification import knn
    emb = table(spark, sf_dir, "embeddings")
    return knn(emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1"), k=5)


def _logreg_gd_sql(iters: int = 3, lr: float = 0.5, dim: int = 64) -> str:
    """Unrolled full-batch GD iterations for logistic regression (generated
    oracle, same pattern as Lloyd/PageRank): e = sigma(v.w + b) - y, per-dim
    gradient means via generate_series, weight update as list_transform."""
    parts = [f"""
    WITH
    pts AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    w0 AS (SELECT list_transform(range(1, {dim + 1}), x -> 0.0) AS w, 0.0 AS b)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    e{t} AS MATERIALIZED (
      SELECT p.vec_id, p.v,
             1.0/(1.0 + EXP(-(list_dot_product(p.v, w.w) + w.b))) - p.y AS e
      FROM pts p CROSS JOIN w{t - 1} w
    ),
    g{t} AS MATERIALIZED (
      SELECT (SELECT list(m ORDER BY j) FROM (
                SELECT g.j, AVG(list_extract(v, g.j) * e) AS m
                FROM e{t} CROSS JOIN generate_series(1, {dim}) AS g(j)
                GROUP BY g.j)) AS gw,
             (SELECT AVG(e) FROM e{t}) AS gb
    ),
    w{t} AS MATERIALIZED (
      SELECT list_transform(range(1, {dim + 1}),
                            j -> list_extract(w.w, j) - {lr} * list_extract(g.gw, j)) AS w,
             w.b - {lr} * g.gb AS b
      FROM w{t - 1} w CROSS JOIN g{t} g
    )""")
    parts.append(f"""
    SELECT t.vec_id,
           CAST(CASE WHEN t.label >= 5 THEN 1 ELSE 0 END AS INT) AS y,
           CAST(CASE WHEN 1.0/(1.0 + EXP(-(list_dot_product(t.embedding::DOUBLE[], w.w) + w.b))) >= 0.5
                THEN 1 ELSE 0 END AS INT) AS prediction
    FROM embeddings t CROSS JOIN w{iters} w
    WHERE t.vec_id % 2 = 1""")
    return "".join(parts)


def _linear_svc_gd_sql(
    iters: int = 3, lr: float = 0.5, lam: float = 0.01, dim: int = 64
) -> str:
    """Unrolled full-batch hinge-subgradient iterations (generated oracle,
    same pattern as the logreg twin): a = y·1[y(v.w + b) < 1], per-dim
    subgradient means via generate_series, update
    wⱼ ← wⱼ − lr·(λ·wⱼ − avg(vⱼ·a)) with the SAME float-op order as the
    Spark side."""
    parts = [f"""
    WITH
    pts AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CASE WHEN embedding[1] + embedding[2] >= 0 THEN 1.0 ELSE -1.0 END AS y
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    w0 AS (SELECT list_transform(range(1, {dim + 1}), x -> 0.0) AS w, 0.0 AS b)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    a{t} AS MATERIALIZED (
      SELECT p.vec_id, p.v,
             CASE WHEN p.y * (list_dot_product(p.v, w.w) + w.b) < 1.0
                  THEN p.y ELSE 0.0 END AS a
      FROM pts p CROSS JOIN w{t - 1} w
    ),
    g{t} AS MATERIALIZED (
      SELECT (SELECT list(m ORDER BY j) FROM (
                SELECT g.j, AVG(list_extract(v, g.j) * a) AS m
                FROM a{t} CROSS JOIN generate_series(1, {dim}) AS g(j)
                GROUP BY g.j)) AS gw,
             (SELECT AVG(a) FROM a{t}) AS ab
    ),
    w{t} AS MATERIALIZED (
      SELECT list_transform(range(1, {dim + 1}),
                            j -> list_extract(w.w, j)
                                 - {lr} * ({lam} * list_extract(w.w, j)
                                           - list_extract(g.gw, j))) AS w,
             w.b + {lr} * g.ab AS b
      FROM w{t - 1} w CROSS JOIN g{t} g
    )""")
    parts.append(f"""
    SELECT t.vec_id,
           CAST(CASE WHEN t.embedding[1] + t.embedding[2] >= 0 THEN 1 ELSE 0 END AS INT) AS y,
           CAST(CASE WHEN list_dot_product(t.embedding::DOUBLE[], w.w) + w.b >= 0
                THEN 1 ELSE 0 END AS INT) AS prediction
    FROM embeddings t CROSS JOIN w{iters} w
    WHERE t.vec_id % 2 = 1""")
    return "".join(parts)


@query("ml_linear_svc_gd", sql=_linear_svc_gd_sql())
def ml_linear_svc_gd(spark, sf_dir):
    """Full-batch hinge-subgradient linear SVM (train even ids / test odd,
    3 iterations, lr=0.5, λ=0.01) — the reference's SVM algorithm,
    deterministic end-to-end and oracle-matched per prediction.  Closes
    the last §2 estimator without a cross-engine value check:
    `ml_linear_svc_confusion` (spark.ml LinearSVC) stays rows-only because
    OWLQN's internals aren't reproducible in SQL; this sibling proves the
    same decision-boundary math exactly.  The binary target is
    sign(e₁+e₂) — a linearly-separable derived label (the fixture's
    `label` column is independent of the embeddings, which made a
    label>=5 target converge to the degenerate all-negative predictor:
    hash-green but vacuous; this target makes the parity check exercise a
    real decision boundary with mixed predictions)."""
    from compss_python_spark.ml.classification import linear_svc_gd

    e12 = F.element_at("embedding", 1) + F.element_at("embedding", 2)
    emb = table(spark, sf_dir, "embeddings").withColumn(
        "y", F.when(e12 >= 0, 1.0).otherwise(-1.0)
    )
    return linear_svc_gd(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    )


@query("ml_logreg_gd", sql=_logreg_gd_sql())
def ml_logreg_gd(spark, sf_dir):
    """Full-batch gradient-descent logistic regression (binary: label>=5,
    train even ids / test odd, 3 iterations, lr=0.5) — the reference's GD
    algorithm, deterministic end-to-end and oracle-matched per prediction.
    Complements ml_logreg_confusion (spark.ml LBFGS → rows-only)."""
    from compss_python_spark.ml.classification import logistic_regression_gd

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "y", (F.col("label") >= 5).cast("int")
    )
    return logistic_regression_gd(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    )


@query("ml_logreg_confusion", sql=None)
def ml_logreg_confusion(spark, sf_dir):
    """LogisticRegression on embeddings→label; confusion matrix out."""
    from compss_python_spark.ml.classification import logistic_regression
    from compss_python_spark.ml.evaluation import confusion_matrix
    emb = table(spark, sf_dir, "embeddings")
    pred, _m = logistic_regression(emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1"))
    return confusion_matrix(pred.withColumn("prediction", F.col("prediction").cast("int")))


@query(
    "ml_simple_linreg",
    sql="""
    SELECT ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 6) AS intercept
    FROM lineitem
    """,
)
def ml_simple_linreg(spark, sf_dir):
    """Closed-form 1-D OLS [ref: ml/regression.py simple mode] — pure
    aggregate, oracle via REGR_SLOPE/REGR_INTERCEPT."""
    from compss_python_spark.ml.regression import simple_linear_regression
    out = simple_linear_regression(table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice")
    return out.select(F.round("slope", 6).alias("slope"), F.round("intercept", 6).alias("intercept"))


@query(
    "ml_regression_metrics",
    sql="""
    WITH p AS (SELECT o_totalprice AS label, o_totalprice * 0.9 + 1000 AS prediction
               FROM orders)
    SELECT ROUND(AVG((prediction - label) * (prediction - label)), 2) AS mse,
           ROUND(SQRT(AVG((prediction - label) * (prediction - label))), 2) AS rmse,
           ROUND(AVG(ABS(prediction - label)), 2) AS mae,
           ROUND(1.0 - AVG((prediction - label) * (prediction - label)) / VAR_POP(label), 6) AS r2
    FROM p
    """,
)
def ml_regression_metrics(spark, sf_dir):
    """RegressionMetrics [ref: ml/evaluation.py] on a synthetic prediction."""
    from compss_python_spark.ml.evaluation import regression_metrics
    p = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        (F.col("o_totalprice") * 0.9 + 1000).alias("prediction"),
    )
    return regression_metrics(p)


@query(
    "ml_classification_metrics",
    sql="""
    WITH p AS (SELECT label, CAST((vec_id % 10) AS INT) AS prediction FROM embeddings),
         tp AS (SELECT label AS cls, COUNT(*) AS tp FROM p WHERE label = prediction GROUP BY 1),
         a  AS (SELECT label AS cls, COUNT(*) AS support FROM p GROUP BY 1),
         pr AS (SELECT prediction AS cls, COUNT(*) AS pred_n FROM p GROUP BY 1)
    SELECT cls, COALESCE(support, 0) AS support,
           ROUND(COALESCE(tp.tp, 0) / GREATEST(COALESCE(pred_n, 0), 1), 6) AS precision,
           ROUND(COALESCE(tp.tp, 0) / GREATEST(COALESCE(support, 0), 1), 6) AS recall,
           ROUND(2 * COALESCE(tp.tp, 0) / GREATEST(COALESCE(pred_n, 0) + COALESCE(support, 0), 1), 6) AS f1
    FROM a FULL JOIN pr USING (cls) LEFT JOIN tp USING (cls)
    """,
)
def ml_classification_metrics(spark, sf_dir):
    """MultilabelMetrics-style per-class P/R/F1 [ref: ml/evaluation.py] on a
    deterministic synthetic prediction (vec_id mod 10)."""
    from compss_python_spark.ml.evaluation import multiclass_metrics
    p = table(spark, sf_dir, "embeddings").select(
        "label", (F.col("vec_id") % 10).cast("int").alias("prediction")
    )
    return multiclass_metrics(p)


@query(
    "ml_fpgrowth",
    sql="""
    WITH RECURSIVE
    baskets AS (
      SELECT l_orderkey,
             list_sort(list_distinct(list(CAST(l_partkey % 50 AS VARCHAR)))) AS items
      FROM lineitem GROUP BY l_orderkey
    ),
    nb AS (SELECT CEIL(0.0075 * COUNT(*)) AS minc FROM baskets),
    item1 AS (
      SELECT item, COUNT(*)::BIGINT AS freq
      FROM baskets, UNNEST(items) AS t(item)
      GROUP BY item
      HAVING COUNT(*) >= (SELECT minc FROM nb)
    ),
    fis(itemset, freq) AS (
      SELECT [item] AS itemset, freq FROM item1
      UNION ALL
      SELECT cand.itemset, cand.freq FROM (
        SELECT list_append(f.itemset, i.item) AS itemset, COUNT(*)::BIGINT AS freq
        FROM fis f
        JOIN item1 i ON i.item > f.itemset[-1]
        JOIN baskets b ON list_has_all(b.items, list_append(f.itemset, i.item))
        GROUP BY 1
        HAVING COUNT(*) >= (SELECT minc FROM nb)
      ) cand
    )
    SELECT array_to_string(itemset, ',') AS itemset, freq FROM fis
    """,
)
def ml_fpgrowth(spark, sf_dir):
    """FPGrowth on order→items baskets (items = part keys mod 50).

    Exact-value oracle via an Apriori-style recursive CTE in DuckDB
    (lexicographic itemset extension + list_has_all support counting —
    Spark's minCount = ceil(minSupport * n) reproduced as CEIL).
    min_support chosen so frequent 2-itemsets exist (~a dozen at sf0.01)
    and the recursion is genuinely exercised.
    """
    from compss_python_spark.ml.fpm import fp_growth
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 50).cast("string").alias("item"))
        .groupBy("l_orderkey")
        .agg(F.array_distinct(F.collect_list("item")).alias("items"))
    )
    itemsets, _rules, _model = fp_growth(baskets, min_support=0.0075)
    return itemsets


@query("ml_tfidf_norm", sql=None)
def ml_tfidf_norm(spark, sf_dir):
    """Tokenize → HashingTF+IDF; output per-doc tf-idf L1 norm (rows-only)."""
    from compss_python_spark.ml.feature import tfidf, tokenizer
    docs = tokenizer(table(spark, sf_dir, "documents"), "text", "tokens")
    out, _model = tfidf(docs, "tokens", num_features=1 << 12)
    return out.select(
        "doc_id",
        F.round(F.aggregate("tfidf", F.lit(0.0), lambda a, v: a + v), 4).alias("tfidf_l1"),
    )


@query(
    "ml_tfidf_norm_exact",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, t.term
      FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS t(term)
      WHERE LENGTH(t.term) >= 1
    ),
    tf AS (SELECT doc_id, term, COUNT(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
    nq AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)
    SELECT doc_id, ROUND(SUM(tf * LN(((SELECT n FROM nq)+1)/(df+1))), 4) AS tfidf_l1
    FROM tf JOIN dfq USING (term) GROUP BY doc_id
    """,
)
def ml_tfidf_norm_exact(spark, sf_dir):
    """RegexTokenizer → CountVectorizer+IDF; per-doc tf-idf L1 norm with a
    from-first-principles SQL oracle (validates Spark's IDF formula
    ln((N+1)/(df+1)) and exact counting end-to-end)."""
    from compss_python_spark.ml.feature import regex_tokenizer, tfidf

    docs = regex_tokenizer(
        table(spark, sf_dir, "documents"), "text", "tokens", pattern=r"\s+"
    )
    out, _model = tfidf(docs, "tokens", use_hashing=False)
    return out.select(
        "doc_id",
        F.round(F.aggregate("tfidf", F.lit(0.0), lambda a, v: a + v), 4).alias("tfidf_l1"),
    )


def _cust_supp_edges(spark, sf_dir):
    """customer→supplier edge table from orders ⋈ lineitem; customer and
    supplier node ids map to DISJOINT even/odd spaces (2·custkey vs
    2·suppkey+1) — collision-free at ANY scale factor, unlike the old
    additive +1e6 offset the round-10 gen100 sweep caught colliding with
    real custkeys past 10⁶ rows (see `_GRAPH_EDGE_BASE_SQL`)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    # No .distinct() here: pagerank dedups internally (driver-side on the
    # bounded local path — skipping the exchange entirely; .distinct() in
    # the loop path), so a pre-distinct would only add a shuffle.
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )


def _dangling_pagerank_sql(iters: int = 8, damping: float = 0.85) -> str:
    """Exact oracle for dangling-aware PageRank as an UNROLLED chain of
    materialized CTEs (one per iteration).

    A recursive CTE can't express the dangling-mass term: it needs a global
    aggregate over the per-iteration result (one extra self-reference, which
    SQL forbids; a window inside the recursive term mis-evaluates in DuckDB).
    Instead each iteration computes the uncorrected update
    rank' = (1-d)/n + d*contrib and then redistributes the lost mass as
    (1 - Σrank')/n — algebraically identical to d*m/n with m the dangling
    mass, since Σrank' = 1 - d*m.  MATERIALIZED is load-bearing: the scalar
    Σrank' subquery references each iteration CTE twice, which un-hinted
    would inline and re-evaluate the whole chain exponentially.
    """
    parts = [
        """
    WITH
    base AS MATERIALIZED (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM base UNION SELECT dst FROM base),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*)::DOUBLE AS deg FROM base GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    it0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
    it{k}_p AS MATERIALIZED (
      SELECT nd.node,
             {1 - damping}/(SELECT n FROM nn) + {damping} * COALESCE(SUM(p.rank / d.deg), 0) AS rank
      FROM nodes nd
      LEFT JOIN base e ON e.dst = nd.node
      LEFT JOIN it{k - 1} p ON p.node = e.src
      LEFT JOIN deg d ON d.node = e.src
      GROUP BY nd.node
    ),
    it{k} AS MATERIALIZED (
      SELECT node, rank + (1.0 - (SELECT SUM(rank) FROM it{k}_p)) / (SELECT n FROM nn) AS rank
      FROM it{k}_p
    )""")
    parts.append(f"\n    SELECT node, ROUND(rank, 8) AS rank FROM it{iters}")
    return "".join(parts)


def _ppr_sql(iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled-CTE oracle for personalized PageRank with restart into the
    seed set (customers with custkey < 50): same materialized-chain trick
    as `_dangling_pagerank_sql`, with the uniform 1/n restart replaced by
    the seed indicator r(node), and the mass correction (1 − Σrank')·r —
    algebraically d·m·r with m the dangling mass."""
    parts = [
        """
    WITH
    base AS MATERIALIZED (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM base UNION SELECT dst FROM base),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*)::DOUBLE AS deg FROM base GROUP BY src),
    ns AS MATERIALIZED (
      SELECT COUNT(*)::DOUBLE AS s FROM nodes WHERE node < 100 AND node % 2 = 0),
    rv AS MATERIALIZED (
      SELECT node,
             CASE WHEN node < 100 AND node % 2 = 0
                  THEN 1.0/(SELECT s FROM ns) ELSE 0.0 END AS r
      FROM nodes),
    it0 AS (SELECT node, r AS rank FROM rv)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
    it{k}_p AS MATERIALIZED (
      SELECT nd.node,
             {1 - damping} * rv.r + {damping} * COALESCE(SUM(p.rank / d.deg), 0) AS rank
      FROM nodes nd
      JOIN rv ON rv.node = nd.node
      LEFT JOIN base e ON e.dst = nd.node
      LEFT JOIN it{k - 1} p ON p.node = e.src
      LEFT JOIN deg d ON d.node = e.src
      GROUP BY nd.node, rv.r
    ),
    it{k} AS MATERIALIZED (
      SELECT i.node, i.rank + (1.0 - (SELECT SUM(rank) FROM it{k}_p)) * rv.r AS rank
      FROM it{k}_p i JOIN rv ON rv.node = i.node
    )""")
    parts.append(f"\n    SELECT node, ROUND(rank, 8) AS rank FROM it{iters}")
    return "".join(parts)


@query("graph_pagerank_personalized", sql=_ppr_sql())
def graph_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank: random walk restarting into the seed set
    (customers with custkey < 50) over the customer→supplier graph —
    dangling supplier mass flows back to the seeds, Σrank = 1.  Exact
    oracle by the unrolled materialized-CTE chain (`_ppr_sql`)."""
    from compss_python_spark.graph.pagerank import personalized_pagerank

    edges = _cust_supp_edges(spark, sf_dir)
    # customer nodes are the even ids (2·custkey), so custkey < 50 ≡ node < 100
    seeds = edges.select(F.col("src").alias("node")).filter("node < 100")
    ranks = personalized_pagerank(edges, seeds, max_iters=8)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


@query("graph_pagerank", sql=_dangling_pagerank_sql(), headline=True)
def graph_pagerank(spark, sf_dir):
    """PageRank on the directed customer→supplier graph (all suppliers are
    dangling → exercises dangling-mass redistribution).  Exact-value oracle
    via the unrolled-CTE formulation in `_dangling_pagerank_sql` (the
    (1-Σrank')/n redistribution there equals this implementation's d·m/n
    term); Σrank≈1 additionally asserted in tests."""
    from compss_python_spark.graph.pagerank import pagerank

    ranks = pagerank(_cust_supp_edges(spark, sf_dir), max_iters=8)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


@query(
    "graph_connected_components",
    oracle_cost="superlinear",  # recursive-CTE closure materializes O(nodes×diameter) rows; OOMs DuckDB at sfgen10
    sql="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity = 50
    ),
    edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def graph_connected_components(spark, sf_dir):
    """Connected components on the sparse customer–supplier co-purchase
    graph (l_quantity = 50 keeps ~2% of edges so the graph fragments into
    many components); at the registry's scale factors it fits the driver
    union-find.  Exact parity with a DuckDB recursive-CTE transitive
    closure taking MIN(reachable id)."""
    from compss_python_spark.graph.components import connected_components

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 50)
    orders = table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )  # no pre-distinct: connected_components dedups internally
    return connected_components(edges)


@query(
    "graph_connected_components_star",
    oracle_cost="superlinear",  # same recursive-CTE closure oracle as graph_connected_components
    sql="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity = 50
    ),
    edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def graph_connected_components_star(spark, sf_dir):
    """Same graph + oracle as `graph_connected_components`, forced through
    the distributed large-star/small-star loop (Kiveris et al. 2014,
    O(log diameter) rounds): local_threshold=0 bypasses the union-find
    gate, so this is the registry's coverage of the loop."""
    from compss_python_spark.graph.components import connected_components

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 50)
    orders = table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return connected_components(edges, local_threshold=0)


@query(
    "graph_triangle_count",
    sql="""
    WITH pairs AS (
      SELECT DISTINCT LEAST(x.l_partkey % 50, y.l_partkey % 50) AS a,
                      GREATEST(x.l_partkey % 50, y.l_partkey % 50) AS b
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey % 50 != y.l_partkey % 50
        AND x.l_quantity >= 48 AND y.l_quantity >= 48
    )
    SELECT COUNT(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.a = e1.b
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count on the part-class co-purchase graph (classes
    co-occurring in an order at high quantity) — low-id orientation makes
    each triangle one (a<b<c) path, reproduced verbatim in the oracle."""
    from compss_python_spark.graph.triangles import triangle_count

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    x = li.select("l_orderkey", (F.col("l_partkey") % 50).alias("pa"))
    y = li.select("l_orderkey", (F.col("l_partkey") % 50).alias("pb"))
    edges = (
        x.join(y, "l_orderkey")
        .filter(F.col("pa") != F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_count(edges)


@query(
    "graph_pagerank_symmetric",
    sql="""
    WITH base AS MATERIALIZED (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*)::DOUBLE AS deg FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM deg),
    r0 AS MATERIALIZED (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM deg),
    r1 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r0 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r2 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r1 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r3 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r2 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r4 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r3 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r5 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r4 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r6 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r5 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r7 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r6 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst),
    r8 AS MATERIALIZED (
      SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg) AS rank
      FROM r7 p JOIN deg d ON d.node = p.node JOIN edges e ON e.src = p.node GROUP BY e.dst)
    SELECT node, ROUND(rank, 8) AS rank FROM r8
    """,
)
def graph_pagerank_symmetric(spark, sf_dir):
    """PageRank on the symmetrized graph (no dangling nodes) — exact-value
    parity with an 8-iteration DuckDB oracle, UNROLLED as materialized
    CTEs rather than a recursive CTE: the recursive form's working-table
    executor spilled >45 GB at sfgen100 (the one resource-bounded row in
    GATE_GEN100), while the unrolled form pins each iteration to ONE
    (ranks ⋈ deg ⋈ edges → group-by dst) pass over materialized inputs —
    measured 290 s / <20 GB spill at sfgen100 under a 40 GB DuckDB
    memory limit.  Same init (1/n), damping, and per-iteration grouping;
    identical values at every SF (re-pinned at sf0.01 in the r11
    window)."""
    from compss_python_spark.graph.pagerank import pagerank

    base = _cust_supp_edges(spark, sf_dir)
    # union only — pagerank dedups internally (see _cust_supp_edges note)
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, max_iters=8)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


@query(
    "ml_multinomial_nb",
    sql=r"""
    WITH tok AS (
      SELECT lang AS y, unnest(string_split_regex(trim(text), '\s+')) AS t
      FROM documents
    ),
    counts AS (SELECT y, t, COUNT(*) AS c FROM tok GROUP BY y, t),
    ctot AS (SELECT y, COUNT(*) AS tot FROM tok GROUP BY y),
    vocab AS (SELECT DISTINCT t FROM tok),
    vs AS (SELECT COUNT(*) AS v FROM vocab),
    priors AS (
      SELECT lang AS y,
             LN(COUNT(*) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE))
               AS logprior
      FROM documents GROUP BY lang
    ),
    tt AS (
      SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\s+')) AS t
      FROM documents WHERE doc_id % 5 = 0
    ),
    scores AS (
      SELECT tt.id, ct.y,
             SUM(LN((COALESCE(c.c, 0) + 1.0) / (ct.tot + 1.0 * vs.v))) AS s
      FROM tt
      JOIN vocab USING (t)
      CROSS JOIN ctot ct
      CROSS JOIN vs
      LEFT JOIN counts c ON c.y = ct.y AND c.t = tt.t
      GROUP BY tt.id, ct.y
    ),
    final AS (
      SELECT s.id, s.y, s.s + p.logprior AS score,
             ROW_NUMBER() OVER (PARTITION BY s.id
                                ORDER BY s.s + p.logprior DESC, s.y) AS rn
      FROM scores s JOIN priors p ON p.y = s.y
    )
    SELECT id AS doc_id, y AS prediction, ROUND(score, 6) AS score
    FROM final WHERE rn = 1
    """,
)
def ml_multinomial_nb(spark, sf_dir):
    """Multinomial Naive Bayes (bag-of-words, Laplace alpha=1) trained on
    the full corpus with lang labels, scored on the doc_id % 5 == 0 slice:
    per-document argmax parity proves counts, smoothing, priors and the
    in-vocabulary filter.  Closed-form — training is one (label, token)
    aggregate, no iterations."""
    from compss_python_spark.ml.classification import multinomial_nb

    docs = table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    return multinomial_nb(
        docs, docs.filter("doc_id % 5 = 0"), "lang", "toks", "doc_id"
    )


@query(
    "graph_k_core",
    oracle_cost="superlinear",  # 5 unrolled peel rounds of self-joined edges OOM DuckDB at sfgen10 edge density
    sql="""
    WITH base AS (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity >= 45
    ),
    e0 AS (SELECT src AS s, dst AS d FROM base
           UNION SELECT dst, src FROM base),
    a1 AS (SELECT s FROM e0 GROUP BY s HAVING COUNT(*) >= 3),
    e1 AS (SELECT e.s, e.d FROM e0 e
             JOIN a1 x ON x.s = e.s JOIN a1 y ON y.s = e.d),
    a2 AS (SELECT s FROM e1 GROUP BY s HAVING COUNT(*) >= 3),
    e2 AS (SELECT e.s, e.d FROM e1 e
             JOIN a2 x ON x.s = e.s JOIN a2 y ON y.s = e.d),
    a3 AS (SELECT s FROM e2 GROUP BY s HAVING COUNT(*) >= 3),
    e3 AS (SELECT e.s, e.d FROM e2 e
             JOIN a3 x ON x.s = e.s JOIN a3 y ON y.s = e.d),
    a4 AS (SELECT s FROM e3 GROUP BY s HAVING COUNT(*) >= 3),
    e4 AS (SELECT e.s, e.d FROM e3 e
             JOIN a4 x ON x.s = e.s JOIN a4 y ON y.s = e.d),
    a5 AS (SELECT s FROM e4 GROUP BY s HAVING COUNT(*) >= 3),
    e5 AS (SELECT e.s, e.d FROM e4 e
             JOIN a5 x ON x.s = e.s JOIN a5 y ON y.s = e.d)
    SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e5 GROUP BY s
    """,
)
def graph_k_core(spark, sf_dir):
    """3-core of the customer-supplier co-purchase graph (l_quantity >= 45
    keeps ~14k symmetrized edges): iterative peel until min degree >= 3.
    The oracle UNROLLS 5 peel rounds -- the fixture converges in 2 and
    peeling is idempotent at the fixpoint, so extra rounds are no-ops and
    equality proves the converged core + per-node core degrees.  The Spark
    loop detects its own convergence (count fixpoint) and raises past
    max_iter rather than returning an unconverged core."""
    from compss_python_spark.graph.kcore import k_core

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    orders = table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return k_core(edges, k=3)


# Customer/supplier node ids map to DISJOINT spaces via even/odd
# (2·custkey vs 2·suppkey+1), not an additive offset: the round-10 gen100
# digest sweep caught the old `l_suppkey + 1000000` colliding with real
# custkeys once the customer table passed 10⁶ rows (1.5 M at sfgen100) —
# the collisions created self-loops that the Spark side's s != d filter
# removed while the SQL oracle kept them, flipping near-tie LPA argmaxes.
# Even/odd is collision-free at ANY scale factor.
_GRAPH_EDGE_BASE_SQL = """base AS (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity >= 45
    ),
    e0 AS (SELECT src AS s, dst AS d FROM base
           UNION SELECT dst, src FROM base)"""

_LPA_ROUNDS = 4
_BFS_ROUNDS = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous-LPA oracle: R rounds of neighbor-label counting
    + deterministic argmax (count desc, label asc) — the same unroll trick
    as graph_k_core's peel chain."""
    parts = [
        _GRAPH_EDGE_BASE_SQL,
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM e0)",
    ]
    for r in range(_LPA_ROUNDS):
        parts.append(
            f"""c{r} AS (
      SELECT e.s, l.label, COUNT(*) AS cnt
      FROM e0 e JOIN l{r} l ON l.node = e.d GROUP BY 1, 2),
    l{r + 1} AS (
      SELECT s AS node, FIRST(label ORDER BY cnt DESC, label) AS label
      FROM c{r} GROUP BY s)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, CAST(label AS BIGINT) AS label FROM l{_LPA_ROUNDS}"
    )


def _bfs_oracle() -> str:
    parts = [
        _GRAPH_EDGE_BASE_SQL,
        """seeds AS (SELECT DISTINCT s AS node FROM e0 WHERE s % 100 = 0),
    d0 AS (SELECT node, 0 AS dist FROM seeds)""",
    ]
    for r in range(_BFS_ROUNDS):
        parts.append(
            f"""d{r + 1} AS (
      SELECT node, CAST(MIN(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d{r}
        UNION ALL
        SELECT e.s AS node, d.dist + 1 AS dist
        FROM e0 e JOIN d{r} d ON d.node = e.d) u
      GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, dist FROM d{_BFS_ROUNDS}"
    )


def _copurchase_edges(spark, sf_dir):
    # even/odd id spaces — see _GRAPH_EDGE_BASE_SQL for why an additive
    # offset is NOT scale-safe (gen100 custkeys collided with it)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    orders = table(spark, sf_dir, "orders")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )


@query("graph_label_propagation", sql=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Community detection: 4 rounds of SYNCHRONOUS label propagation
    (Raghavan et al. 2007) with total tie-break (count desc, label asc) —
    the deterministic variant, so the unrolled SQL oracle reproduces every
    label.  Per round: one edge⋈label shuffle + one map-combined
    max(struct) argmax (no per-node sort window)."""
    from compss_python_spark.graph.lpa import label_propagation

    return label_propagation(_copurchase_edges(spark, sf_dir), num_rounds=_LPA_ROUNDS)


@query("graph_bfs_layers", sql=_bfs_oracle())
def graph_bfs_layers(spark, sf_dir):
    """Multi-source BFS hop distances (4 rounds of min-plus relaxation —
    exact for all nodes within 4 hops) from the seed set node%100=0.
    One expansion join + one min aggregate per round, frontier never on
    the driver."""
    from compss_python_spark.graph.lpa import bfs_layers

    edges = _copurchase_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .filter(F.col("node") % 100 == 0)
    )
    return bfs_layers(edges, seeds, num_rounds=_BFS_ROUNDS)


@query(
    "ml_calibration_bins",
    sql="""
    WITH scored AS (
      SELECT event_id,
             LEAST(value / 10.0, 1.0) AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events),
    b AS (SELECT *, NTILE(10) OVER (ORDER BY score, event_id) AS bin
          FROM scored)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(AVG(label), 6) AS observed_rate
    FROM b GROUP BY bin
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Model-calibration (reliability) table: score deciles vs observed
    positive rate — exact NTILE semantics from the distributed prefix-sum
    ranking, no single-partition window.  Scorer here is the
    deterministic value/10 proxy; the operator shape is what any real
    model's scores ride."""
    from compss_python_spark.operators.aggregation import ntile_distributed

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.least(F.col("value") / 10.0, F.lit(1.0)).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    b = ntile_distributed(ev, ["score", "event_id"], 10, "bin")
    return b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg("label"), 6).alias("observed_rate"),
    )


@query(
    "ml_roc_auc",
    sql="""
    WITH s AS (
      SELECT o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    r AS (
      SELECT y,
             RANK() OVER (ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS mr
      FROM s)
    SELECT ROUND((SUM(y * mr) - SUM(y) * (SUM(y) + 1) / 2.0)
                 / (SUM(y) * (COUNT(*) - SUM(y))), 6) AS auc,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
    FROM r
    """,
)
def ml_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC AUC via the Mann-Whitney identity.  The
    ranking is the distributed range-partitioned prefix sum
    (global_avg_ranks) — no global ORDER BY window anywhere; midranks are
    multiples of 1/2, so the rank-sum aggregate is order-exact in
    doubles.  Oracle ranks with a window (fine at sf0.01)."""
    from compss_python_spark.ml.evaluation import roc_auc

    orders = table(spark, sf_dir, "orders")
    scored = orders.select(
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
        F.col("o_totalprice").alias("score"),
    )
    return roc_auc(scored, "label", "score")


@query(
    "graph_sssp_weighted",
    sql="""
    WITH b0 AS (
      SELECT 2 * o_custkey AS s, 2 * l_suppkey + 1 AS d,
             CAST(l_quantity AS DOUBLE) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity >= 45),
    sym AS (SELECT s, d, w FROM b0 UNION ALL SELECT d, s, w FROM b0),
    e AS (SELECT s, d, MIN(w) AS w FROM sym GROUP BY 1, 2),
    d0 AS (SELECT CAST(2 * c_custkey AS BIGINT) AS node, 0.0 AS dist
           FROM customer WHERE c_custkey <= 3),
    d1 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d0
             UNION ALL
             SELECT e.d, d0.dist + e.w FROM d0 JOIN e ON e.s = d0.node)
           GROUP BY node),
    d2 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d1
             UNION ALL
             SELECT e.d, d1.dist + e.w FROM d1 JOIN e ON e.s = d1.node)
           GROUP BY node),
    d3 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d2
             UNION ALL
             SELECT e.d, d2.dist + e.w FROM d2 JOIN e ON e.s = d2.node)
           GROUP BY node),
    d4 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d3
             UNION ALL
             SELECT e.d, d3.dist + e.w FROM d3 JOIN e ON e.s = d3.node)
           GROUP BY node)
    SELECT node, ROUND(dist, 6) AS dist FROM d4
    """,
)
def graph_sssp_weighted(spark, sf_dir):
    """Weighted multi-source shortest paths (4 Bellman-Ford min-plus
    rounds, exact within 4 edges) on the quantity-weighted co-purchase
    graph, seeds = customers 1-3.  Per round ONE expansion join + ONE
    map-combined min aggregate; the oracle unrolls all 4 rounds.
    Integer-valued weights keep every path sum exact in doubles."""
    from compss_python_spark.graph.lpa import sssp_weighted

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    orders = table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        F.col("l_quantity").alias("weight"),
    )
    seeds = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 3
    ).select((F.col("c_custkey") * 2).cast("long").alias("node"))
    d = sssp_weighted(edges, seeds, num_rounds=4)
    return d.select("node", F.round("dist", 6).alias("dist"))
