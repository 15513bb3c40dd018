"""Model-eval and feature-engineering metrics (wave 13).

Five operators a training-data/eval pipeline runs next to curation:

* `eval_auc_rank` — exact ROC AUC via the Mann-Whitney rank-sum
  identity (AUC = U / (n_pos * n_neg)), with tie-corrected average
  ranks.  The rank prefix sums are TWO-LEVEL (bucketed carries, the
  streaming/windows.py::late_events discipline) so no corpus-scale
  frame ever passes through an unpartitioned window.
* `feature_target_encode_loo` — leave-one-out target (mean) encoding
  of a categorical column, the standard high-cardinality feature
  encoding that avoids self-leakage: enc(row) = (sum(cat) - y_row)
  / (n(cat) - 1).  One category aggregate (5 rows) broadcast back.
* `label_fleiss_kappa` — inter-annotator chance-corrected agreement
  (Fleiss 1971) over the same deterministic 3-annotator synthesis as
  `label_majority_vote` (operators/curation_dq.py:281) — the dataset
  QA readout before trusting crowd labels.
* `eval_calibration_bins` — reliability-diagram components (bin
  count, mean predicted score, empirical positive rate, |gap|) over
  fixed decile bins; ECE is the n-weighted gap sum.  Scores are
  synthesized deterministically from md5(vec_id) + label so both
  engines see identical fixtures (the curation_dq annotator idiom).
* `feature_hash_bucket` — the hashing trick (Weinberger et al. 2009):
  terms hashed into 2^10 buckets, per-bucket token/term tallies and
  the dominant term — the fixed-width featurizer that needs no
  vocabulary broadcast at 100 TB.

Reference scope note: the reference (vector-client.ts) has no eval or
feature-engineering surface; this extends the retrieval_eval_ndcg /
eval_pass_at_k evaluation family (north-star scope).

Cross-engine determinism: every statistic folds through exact integer
or decimal arithmetic (counts as BIGINT, wide products as
DECIMAL(19,0)xDECIMAL(19,0) -> DECIMAL(38,0) in BOTH engines — Spark
clamps 39->38 losslessly at scale 0, DuckDB derives 38 directly), and
each final float is ONE identical left-to-right double expression per
engine, with every decimal->double hop through the o_dsum varchar
bridge on the DuckDB side (functions/numeric.py).

Scale notes per operator are in the docstrings; the common theme is
that only aggregate frames (distinct scores, 5 categories, 10 bins,
1024 buckets, per-bucket carries) are ever re-shuffled or windowed —
the corpus is scanned once and reduced in the first aggregate.

Also here: `eval_lift_gain`, `eval_gwet_ac1`, `feature_gini_impurity`,
`eval_regression_metrics`, `eval_fairness_auc_gap`, `eval_kendall_tau`,
`eval_rank_rbo`, `eval_kendall_tau_exact`, `eval_bleu_components`, each
with its notes in a comment above it.
"""

from __future__ import annotations

from decimal import Decimal as _Dec

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.prefix import cum_before
from vector_ai_npm_spark.functions.vectors import cosine_similarity, o_cosine
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.operators.analytics_ops import _ntile_two_level
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.text.rouge import _O_PAIRS


# decimal->double through VARCHAR on the DuckDB side (exact; see
# functions/numeric.py::o_dsum for why the direct cast double-rounds)
def _o_d2d(expr: str) -> str:
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


def _spark_hash_mod(col: Column, salt: str, mod: int) -> Column:
    """First 8 md5 hex digits as BIGINT, mod `mod` — the deterministic
    cross-engine randomness idiom (operators/curation_dq.py:281)."""
    return (
        F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8), 16, 10)
        .cast("bigint") % mod
    )


def _duck_hash_mod(expr: str, salt: str, mod: int) -> str:
    return (
        f"(CAST('0x' || substring(md5(CAST({expr} AS VARCHAR) || '{salt}'), 1, 8) "
        f"AS BIGINT) % {mod})"
    )


# --------------------------------------------------------------------------
# eval_auc_rank
# --------------------------------------------------------------------------

# integer cents from a 2-decimal double: floor(x*100 + 0.5) is engine-
# identical (x*100 lands within 1e-10 of the integer; CAST double->BIGINT
# truncates in Spark but ROUNDS in DuckDB, so never cast the raw product)
_CENTS_SQL = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"

_AUC_BUCKET = 10_000  # score-range width per carry bucket (cents)


@query(
    "eval_auc_rank",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents,
             CASE WHEN CAST(COUNT(CASE WHEN event_type = 'purchase'
                                       THEN 1 END) AS BIGINT) * 5
                       > CAST(COUNT(*) AS BIGINT)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos
      FROM events GROUP BY user_id
    ), by_score AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS cnt_pos
      FROM per_user GROUP BY cents
    ), ranked AS (
      SELECT cnt, cnt_pos,
             COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM by_score
    ), folded AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_users,
             CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(cnt_pos AS DECIMAL(19,0))
                      * CAST(2 * cum_before + cnt + 1 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS s2_pos
      FROM ranked
    )
    SELECT n_users, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             {_o_d2d("s2_pos - CAST(n_pos AS DECIMAL(19,0)) * CAST(n_pos + 1 AS DECIMAL(19,0))")}
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
           END AS auc
    FROM folded
    """,
)
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC of "total spend (cents) predicts
    heavy purchaser (purchase share above the uniform 1/5 rate)" per
    user, via Mann-Whitney: with S = sum of average
    ranks of positives (ascending score), U = S - n_pos(n_pos+1)/2 and
    AUC = U / (n_pos * n_neg).  Average rank of a tied score group is
    (rank_lo + rank_hi)/2, so 2S = sum cnt_pos * (2*cum_before + cnt
    + 1) stays integer.

    Scale: one user-keyed aggregate, one score-keyed aggregate (the
    distinct-score frame), then the cumulative counts come from the
    TWO-LEVEL prefix (partitioned within score-range buckets + one
    unpartitioned carry window over the per-bucket aggregate — bounded
    by score range / bucket width, never by corpus rows), and a 1-row
    fold.  Products ride DECIMAL(19,0)x(19,0)->(38,0) so 1e11-user rank
    sums cannot overflow BIGINT."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.expr(_CENTS_SQL)).cast("bigint").alias("cents"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)).cast("bigint")
            * 5
            > F.count(F.lit(1)).cast("bigint"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pos"),
    )
    by_score = per_user.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("cnt_pos"),
    )
    ranked = cum_before(by_score, "cents", "cnt", _AUC_BUCKET)
    d19 = "decimal(19,0)"
    folded = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n_users"),
        F.sum("cnt_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cnt_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("cnt_pos").cast(d19)
            * (F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1)).cast(d19)
        )
        .cast("decimal(38,0)")
        .alias("s2_pos"),
    )
    u2 = (
        F.col("s2_pos")
        - F.col("n_pos").cast(d19) * (F.col("n_pos") + F.lit(1)).cast(d19)
    ).cast("double")
    return folded.select(
        "n_users",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u2
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# feature_target_encode_loo
# --------------------------------------------------------------------------

_D4 = "DECIMAL(18,4)"
_D19 = "decimal(19,0)"
_D38 = "decimal(38,0)"


@query(
    "feature_target_encode_loo",
    oracle=f"""
    WITH cat AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(CAST(o_totalprice AS {_D4})) AS DECIMAL(28,4)) AS s_cat
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority, c.n_cat,
           CASE WHEN c.n_cat > 1 THEN
             {_o_d2d(f"CAST(c.s_cat - CAST(o.o_totalprice AS {_D4}) AS DECIMAL(28,4))")}
               / CAST(c.n_cat - 1 AS DOUBLE)
           END AS loo_enc
    FROM orders o JOIN cat c USING (o_orderpriority)
    """,
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean target encoding: each order's priority is
    replaced by the mean o_totalprice of all OTHER orders sharing it —
    (sum(cat) - y) / (n(cat) - 1), the leakage-free form used for
    high-cardinality categoricals in GBDT/linear feature pipelines.

    Exactness: per-row prices cast to DECIMAL(18,4) (2-decimal values
    ≪ the 1e9 identity bound, functions/numeric.py), category sums and
    the subtraction stay exact decimal, ONE double division at the end
    (numerator via the varchar bridge in DuckDB).

    Scale: one category aggregate (5 rows here; even 1e6 categories is
    a broadcastable dim) broadcast-joined back to the fact — the fact
    table never shuffles."""
    d4 = _D4.lower()
    orders = load_table(spark, sf_dir, "orders")
    cat = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum(F.col("o_totalprice").cast(d4)).cast("decimal(28,4)").alias("s_cat"),
    )
    return (
        orders.join(F.broadcast(cat), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "n_cat",
            F.when(
                F.col("n_cat") > 1,  # a singleton category has no LOO mean
                (F.col("s_cat") - F.col("o_totalprice").cast(d4))
                .cast("decimal(28,4)")
                .cast("double")
                / (F.col("n_cat") - F.lit(1)).cast("double"),
            ).alias("loo_enc"),
        )
    )


# --------------------------------------------------------------------------
# label_fleiss_kappa
# --------------------------------------------------------------------------

# the SAME deterministic 3-annotator corruption as label_majority_vote:
# imported from its single definition site (operators/curation_dq.py)
# so the two QA readouts can never drift apart on the vote synthesis
from vector_ai_npm_spark.operators.curation_dq import (  # noqa: E402
    _N_ANN,
    _vote_sql_leg,
    vote_expr,
)


@query(
    "label_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
      {" UNION ALL ".join(_vote_sql_leg(i) for i in range(_N_ANN))}
    ), cells AS (
      SELECT vec_id, vote, CAST(COUNT(*) AS BIGINT) AS nij
      FROM votes GROUP BY vec_id, vote
    ), item_fold AS (
      SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_items,
             CAST(SUM(nij * nij) AS BIGINT) AS sum_nij2
      FROM cells
    ), cat_fold AS (
      SELECT CAST(SUM(CAST(cj AS DECIMAL(19,0)) * CAST(cj AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sum_cj2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cj FROM votes GROUP BY vote)
    )
    SELECT n_items,
           CAST({_N_ANN} AS BIGINT) AS n_raters,
           CAST(sum_nij2 - n_items * {_N_ANN} AS DOUBLE)
             / CAST(n_items * {_N_ANN} * {_N_ANN - 1} AS DOUBLE) AS p_bar,
           {_o_d2d("sum_cj2")}
             / (CAST(n_items * {_N_ANN} AS DOUBLE)
                * CAST(n_items * {_N_ANN} AS DOUBLE)) AS p_e,
           ((CAST(sum_nij2 - n_items * {_N_ANN} AS DOUBLE)
             / CAST(n_items * {_N_ANN} * {_N_ANN - 1} AS DOUBLE))
            - ({_o_d2d("sum_cj2")}
               / (CAST(n_items * {_N_ANN} AS DOUBLE)
                  * CAST(n_items * {_N_ANN} AS DOUBLE))))
           / (1.0 - ({_o_d2d("sum_cj2")}
                     / (CAST(n_items * {_N_ANN} AS DOUBLE)
                        * CAST(n_items * {_N_ANN} AS DOUBLE)))) AS kappa
    FROM item_fold CROSS JOIN cat_fold
    """,
)
def label_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the synthetic 3-annotator votes: P_bar (mean
    observed pairwise agreement) = (sum_ij n_ij^2 - N*n) / (N*n*(n-1)),
    P_e (chance agreement) = sum_j c_j^2 / (N*n)^2, kappa =
    (P_bar - P_e) / (1 - P_e).  Everything until the three final double
    expressions is integer: n_ij <= 3 so sum n_ij^2 fits BIGINT at any
    corpus size; the category totals c_j are corpus-sized so THEIR
    squares fold as DECIMAL(19,0)^2 -> (38,0).

    Scale: one (item, vote)-keyed aggregate (votes explode from an
    in-row array — one scan), one 10-row category aggregate, two 1-row
    folds cross-joined.  Nothing wider than the cells frame shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")

    votes = emb.select(
        "vec_id",
        F.explode(
            F.array(*[vote_expr(i) for i in range(_N_ANN)])
        ).alias("vote"),
    )
    cells = votes.groupBy("vec_id", "vote").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    item_fold = cells.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_items"),
        F.sum(F.col("nij") * F.col("nij")).cast("bigint").alias("sum_nij2"),
    )
    d19 = "decimal(19,0)"
    cat_fold = (
        votes.groupBy("vote")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cj"))
        .agg(
            F.sum(F.col("cj").cast(d19) * F.col("cj").cast(d19))
            .cast("decimal(38,0)")
            .alias("sum_cj2")
        )
    )
    n = F.lit(_N_ANN).cast("bigint")
    joined = item_fold.crossJoin(F.broadcast(cat_fold))
    p_bar = (
        (F.col("sum_nij2") - F.col("n_items") * _N_ANN).cast("double")
        / (F.col("n_items") * _N_ANN * (_N_ANN - 1)).cast("double")
    )
    nn_dbl = (F.col("n_items") * _N_ANN).cast("double")
    p_e = F.col("sum_cj2").cast("double") / (nn_dbl * nn_dbl)
    return joined.select(
        "n_items",
        n.alias("n_raters"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


# --------------------------------------------------------------------------
# shared model-score fixture
# --------------------------------------------------------------------------
#
# ONE deterministic synthetic model score shared by every eval readout
# (calibration bins, isotonic fit, confusion sweep, average precision):
# md5 noise in [0, 600) milli-units + 350 for true positives (label<5),
# +50 for negatives — overlapping, so the "model" is informative but
# imperfect.  Single definition site; the production swap-in is a real
# score column with the same (pos, s_milli) shape.

CAL_SCORED_SQL = f"""
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             {_duck_hash_mod("vec_id", "#cal", 600)}
               + CASE WHEN label < 5 THEN 350 ELSE 50 END AS s_milli
      FROM embeddings
"""


def cal_scored(emb: DataFrame) -> DataFrame:
    """Spark mirror of :data:`CAL_SCORED_SQL` — (pos, s_milli) frame."""
    return emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        (
            _spark_hash_mod(F.col("vec_id"), "#cal", 600)
            + F.when(F.col("label") < 5, 350).otherwise(50)
        ).alias("s_milli"),
    )


# --------------------------------------------------------------------------
# eval_calibration_bins
# --------------------------------------------------------------------------


@query(
    "eval_calibration_bins",
    oracle=f"""
    WITH scored AS (
{CAL_SCORED_SQL}
    )
    SELECT CAST(FLOOR(s_milli / 100) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_examples,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ({_o_d2d("CAST(SUM(CAST(s_milli AS DECIMAL(19,0))) AS DECIMAL(38,0))")}
              / CAST(COUNT(*) AS DOUBLE)) / 1000.0 AS mean_score,
           CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
           ABS((CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               - ({_o_d2d("CAST(SUM(CAST(s_milli AS DECIMAL(19,0))) AS DECIMAL(38,0))")}
                  / CAST(COUNT(*) AS DOUBLE)) / 1000.0) AS abs_gap
    FROM scored GROUP BY CAST(FLOOR(s_milli / 100) AS BIGINT)
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram components over fixed decile bins of a
    deterministic synthetic score (md5 noise in [0,600) milli-units +
    350 for true positives, +50 for negatives — overlapping, so the
    model is informative but imperfectly calibrated).  Per bin: count,
    mean predicted score, empirical positive rate and |gap|; ECE is
    the n-weighted gap sum downstream.

    Scale: map-only scoring + one <=10-row aggregate; score sums fold
    as DECIMAL(38,0) so milli-unit totals never hit the 2^53 double
    cliff.  The production swap-in is a real model-score column — the
    bin/fold shapes are unchanged."""
    scored = cal_scored(load_table(spark, sf_dir, "embeddings"))
    agg = scored.groupBy(
        F.floor(F.col("s_milli") / F.lit(100)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("s_milli").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s_sum"),
    )
    mean_score = (
        F.col("s_sum").cast("double") / F.col("n_examples").cast("double")
    ) / F.lit(1000.0)
    frac_pos = F.col("n_pos").cast("double") / F.col("n_examples").cast("double")
    return agg.select(
        "bin",
        "n_examples",
        "n_pos",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.abs(frac_pos - mean_score).alias("abs_gap"),
    )


# --------------------------------------------------------------------------
# feature_hash_bucket
# --------------------------------------------------------------------------

_N_BUCKETS = 1024

# shared token fragments (dedup/queries.py:43 — kept textually parallel)
_SPARK_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"


@query(
    "feature_hash_bucket",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKS}) AS term FROM documents
    ), vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS term_n
      FROM toks GROUP BY term
    ), per_term AS (
      -- bucket hash on the VOCABULARY frame, never per token occurrence
      SELECT {_duck_hash_mod("term", "#fh", _N_BUCKETS)} AS bucket,
             term, term_n
      FROM vocab
    ), ranked AS (
      SELECT bucket, term, term_n,
             CAST(SUM(term_n) OVER (PARTITION BY bucket) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS n_terms,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY term_n DESC, term) AS rn
      FROM per_term
    )
    SELECT bucket, n_terms, n_tokens, term AS top_term
    FROM ranked WHERE rn = 1
    """,
)
def feature_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every corpus term maps to md5 % 1024 — a
    fixed-width feature space needing no vocabulary broadcast (the
    100 TB featurizer for linear/GBDT baselines).  Per bucket: distinct
    terms (collision load), total token mass, and the dominant term
    (deterministic count-desc/lexicographic tiebreak) for
    interpretability audits.

    Scale: one corpus scan + explode, a (term)-keyed aggregate
    (vocabulary-sized — Heaps' law, ~n^0.5), then all windows are keyed
    by the 1024-value bucket over the vocabulary frame and the top-1
    filter plans as WindowGroupLimit.  The corpus never re-shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    # count per term FIRST (the only corpus-scale shuffle), then hash on
    # the vocabulary frame: one md5 per TERM, not per token occurrence
    per_term = (
        docs.select(F.explode(F.expr(_SPARK_TOKS)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("term_n"))
        .withColumn(
            "bucket", _spark_hash_mod(F.col("term"), "#fh", _N_BUCKETS)
        )
    )
    wb = W.partitionBy("bucket")
    wr = W.partitionBy("bucket").orderBy(F.desc("term_n"), F.col("term"))
    return (
        per_term.withColumn("n_tokens", F.sum("term_n").over(wb).cast("bigint"))
        .withColumn("n_terms", F.count(F.lit(1)).over(wb).cast("bigint"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("bucket", "n_terms", "n_tokens", F.col("term").alias("top_term"))
    )


# `eval_lift_gain` — the decile gains/lift table (the marketing-/
# ranking-model readout next to AUC and AUPRC): score deciles by the
# exact two-level ntile, cumulative capture rate (gain) and lift as
# exact integer fractions.
#
# Cross-engine determinism: integers and exact fractions throughout;
# the ntile decomposition is bit-equal to the SQL window by the
# `_ntile_two_level` total-order argument; gap microseconds use the
# NTZ-safe timestampdiff idiom (growth_ops.window_twap).

# score synthesis with the row id kept (the cal_scored fixture carries
# only (pos, s_milli); the ntile tiebreak needs a unique id)
_CAL_ID_SQL = """
      SELECT vec_id,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             ({noise} + CASE WHEN label < 5 THEN 350 ELSE 50 END)
               AS s_milli
      FROM embeddings
""".format(noise=_duck_hash_mod("vec_id", "#cal", 600))

_N_TILES = 10


def _cal_scored_id(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        (
            _spark_hash_mod(F.col("vec_id"), "#cal", 600)
            + F.when(F.col("label") < 5, 350).otherwise(50)
        ).alias("s_milli"),
    )


@query(
    "eval_lift_gain",
    oracle=f"""
    WITH scored AS (
{_CAL_ID_SQL}
    ),
    tiled AS (
      SELECT pos,
             NTILE({_N_TILES}) OVER (ORDER BY s_milli DESC, vec_id)
               AS decile
      FROM scored
    ),
    per AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM tiled GROUP BY decile
    ),
    cum AS (
      SELECT decile, n, n_pos,
             CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
             CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
             CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
      FROM per
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n, n_pos, cum_n, cum_pos,
           CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS gain,
           CAST(cum_pos * tot_n AS BIGINT) AS lift_num,
           CAST(cum_n * tot_pos AS BIGINT) AS lift_den,
           CAST(cum_pos * tot_n AS DOUBLE)
             / CAST(cum_n * tot_pos AS DOUBLE) AS lift
    FROM cum
    """,
)
def eval_lift_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift — see the notes above.  The decile is the
    exact two-level ntile (bit-equal to the SQL window, physically
    bucketed); the cumulative/lift windows run over the 10-row decile
    frame only."""
    scored = _cal_scored_id(load_table(spark, sf_dir, "embeddings"))
    tiled = _ntile_two_level(
        scored,
        "decile",
        metric="s_milli",
        descending=True,
        tiebreak="vec_id",
        n_tiles=_N_TILES,
    )
    per = tiled.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wall).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(wall).cast("bigint").alias("tot_pos"),
    )
    return cum.select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        (F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double"))
        .alias("gain"),
        (F.col("cum_pos") * F.col("tot_n")).cast("bigint").alias("lift_num"),
        (F.col("cum_n") * F.col("tot_pos")).cast("bigint").alias("lift_den"),
        (
            (F.col("cum_pos") * F.col("tot_n")).cast("double")
            / (F.col("cum_n") * F.col("tot_pos")).cast("double")
        ).alias("lift"),
    )


# `eval_gwet_ac1` — Gwet's AC1 chance-corrected agreement over the
# shared 3-annotator vote fixture (curation_dq._vote_sql_leg), the
# paradox-resistant alternative to Fleiss kappa (stable when the
# label distribution is skewed).  With r=3 raters and Q=10 categories
# AC1 reduces to the exact int64 fraction
# (3·A·N·(Q−1) − 2·B) / (2·(9·N²·(Q−1) − B)) with
# A = Σ_items Σ_q r_iq(r_iq−1) and B = Σ_q T_q(3N−T_q).

_Q_CATS = 10  # fixture labels are 0..9


@query(
    "eval_gwet_ac1",
    oracle=f"""
    WITH votes AS (
      {" UNION ALL ".join(_vote_sql_leg(i) for i in range(_N_ANN))}
    ),
    tallies AS (
      SELECT vec_id, vote, CAST(COUNT(*) AS BIGINT) AS r
      FROM votes GROUP BY vec_id, vote
    ),
    folds AS (
      SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
             CAST(SUM(r * (r - 1)) AS BIGINT) AS a
      FROM tallies
    ),
    cat AS (
      SELECT CAST(SUM(CAST(tq AS DECIMAL(38,0))
                      * ({_N_ANN} * (SELECT n FROM folds) - tq))
                  AS BIGINT) AS b
      FROM (SELECT vote, CAST(SUM(r) AS BIGINT) AS tq
            FROM tallies GROUP BY vote)
    )
    SELECT n, a, b,
           CAST(3 * CAST(a AS DECIMAL(38,0)) * n * ({_Q_CATS} - 1) - 2 * b
                AS BIGINT) AS ac1_num,
           CAST(2 * (9 * CAST(n AS DECIMAL(38,0)) * n * ({_Q_CATS} - 1) - b)
                AS BIGINT) AS ac1_den,
           CAST(3 * CAST(a AS DECIMAL(38,0)) * n * ({_Q_CATS} - 1) - 2 * b
                AS DOUBLE)
             / CAST(2 * (9 * CAST(n AS DECIMAL(38,0)) * n
                         * ({_Q_CATS} - 1) - b) AS DOUBLE) AS ac1
    FROM folds CROSS JOIN cat
    """,
)
def eval_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 over the shared 3-annotator votes — see the notes
    above for the exact int64 reduction.  Corpus → (item, vote)
    tally → two 1-row folds joined by scalar broadcast; int64 output
    bound n ≤ ~2e5 items documented (DECIMAL(38,0) intermediates
    beyond)."""
    emb = load_table(spark, sf_dir, "embeddings")
    votes = None
    for i in range(_N_ANN):
        leg = emb.select("vec_id", vote_expr(i).alias("vote"))
        votes = leg if votes is None else votes.unionByName(leg)
    tallies = votes.groupBy("vec_id", "vote").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    folds = tallies.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n"),
        F.sum(F.col("r") * (F.col("r") - 1)).cast("bigint").alias("a"),
    )
    per_cat = tallies.groupBy("vote").agg(
        F.sum("r").cast("bigint").alias("tq")
    )
    b = (
        per_cat.crossJoin(F.broadcast(folds.select("n")))
        .agg(
            F.sum(
                F.col("tq").cast(_D38)
                * (F.lit(_N_ANN) * F.col("n") - F.col("tq"))
            )
            .cast("bigint")
            .alias("b")
        )
    )
    num = (
        F.lit(3) * F.col("a").cast(_D38) * F.col("n") * (_Q_CATS - 1)
        - 2 * F.col("b")
    )
    den = F.lit(2) * (
        F.lit(9) * F.col("n").cast(_D38) * F.col("n") * (_Q_CATS - 1)
        - F.col("b")
    )
    return folds.crossJoin(F.broadcast(b)).select(
        "n", "a", "b",
        num.cast("bigint").alias("ac1_num"),
        den.cast("bigint").alias("ac1_den"),
        (num.cast("double") / den.cast("double")).alias("ac1"),
    )


# `feature_gini_impurity` — per-source Gini impurity of the language
# distribution (1 − Σp²): the split-quality readout feature stores
# publish next to WOE/IV, and the rational twin of entropy-based
# usefulness (ln-free by construction).  imp = (n² − Σc²)/n² exact.

@query(
    "feature_gini_impurity",
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, lang
    ),
    per_source AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS BIGINT) AS ssq
      FROM cells GROUP BY source
    )
    SELECT source, n, n_langs,
           CAST(CAST(n AS DECIMAL(19,0)) * n - ssq AS BIGINT) AS imp_num,
           CAST(CAST(n AS DECIMAL(19,0)) * n AS BIGINT) AS imp_den,
           CAST(CAST(n AS DECIMAL(19,0)) * n - ssq AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(19,0)) * n AS DOUBLE)
             AS gini_impurity
    FROM per_source
    """,
)
def feature_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini impurity of the language distribution — see
    notes above.  Corpus → (source, lang) cells → source fold;
    imp_num ≤ n² needs ≤ 3e9 docs per source in int64 (DECIMAL
    intermediates beyond, the HHI bound)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_source = cells.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("c").cast(_D19) * F.col("c")).cast("bigint").alias("ssq"),
    )
    nsq = F.col("n").cast(_D19) * F.col("n")
    return per_source.select(
        "source", "n", "n_langs",
        (nsq - F.col("ssq")).cast("bigint").alias("imp_num"),
        nsq.cast("bigint").alias("imp_den"),
        ((nsq - F.col("ssq")).cast("double") / nsq.cast("double")).alias(
            "gini_impurity"
        ),
    )


# `eval_regression_metrics` — MAE / RMSE / R² over a deterministic
# synthetic prediction column (md5 cent-noise around the purchase
# value — the classification suite's `cal_scored` convention applied
# to regression; the engine's job is the exact distributed metric
# fold, the model is a fixture).  Exactness: truth and prediction are
# quantized to EXACT integer cents (floor(v·100+½) — correctly-rounded
# ops only), so residuals, SAE, SSE and the centered SST fold as exact
# integers/decimals; MAE and RMSE are single identical double
# expressions, and R² = 1 − n·SSE/SST is emitted with its exact
# decimal numerator/denominator THROUGH THE VARCHAR BRIDGE
# (functions.numeric.o_dsum's lesson: DuckDB's direct
# decimal→double cast double-rounds past 2⁵³ — n·Σy² ≈ 2.5e19 at
# sf0.01 already crosses it, measured).
#
# Scale shape: regression metrics reduce the purchase scan to ONE row
# of integer/decimal power sums (map-side combine).

@query(
    "eval_regression_metrics",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               + ({_duck_hash_mod("event_id", "#reg", 2001)} - 1000) AS p
      FROM events WHERE event_type = 'purchase'
    ),
    folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ABS(p - y)) AS BIGINT) AS sae_c,
             CAST(SUM(CAST(p - y AS DECIMAL(38,0)) * (p - y)) AS BIGINT)
               AS sse_c2,
             SUM(CAST(y AS DECIMAL(38,0))) AS s_y,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS s_y2
      FROM scored
    )
    SELECT n, sae_c, sse_c2,
           {_o_d2d('n * s_y2 - s_y * s_y')} AS sst_c2,
           CAST(sae_c AS DOUBLE) / CAST(n AS DOUBLE) / 100 AS mae,
           SQRT(CAST(sse_c2 AS DOUBLE) / CAST(n AS DOUBLE)) / 100 AS rmse,
           {_o_d2d('n * s_y2 - s_y * s_y - n * CAST(sse_c2 AS DECIMAL(38,0))')}
             / {_o_d2d('n * s_y2 - s_y * s_y')} AS r2
    FROM folds
    """,
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed regression metrics — see the notes above.
    One purchase scan → 1-row integer/decimal power-sum fold; SST and
    the R² numerator leave the engine only as varchar-bridged doubles
    (exact decimal print + correctly-rounded strtod in both engines —
    their BIGINT casts overflow at sf0.01 scale already)."""
    ev = load_table(spark, sf_dir, "events")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    p = y + (
        _spark_hash_mod(F.col("event_id"), "#reg", 2001) - F.lit(1000)
    )
    scored = ev.where(F.col("event_type") == "purchase").select(
        y.alias("y"), p.alias("p")
    )
    folds = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(F.col("p") - F.col("y"))).cast("bigint").alias("sae_c"),
        F.sum((F.col("p") - F.col("y")).cast(_D38) * (F.col("p") - F.col("y")))
        .cast("bigint")
        .alias("sse_c2"),
        F.sum(F.col("y").cast(_D38)).alias("s_y"),
        F.sum(F.col("y").cast(_D38) * F.col("y")).alias("s_y2"),
    )
    sst = F.col("n") * F.col("s_y2") - F.col("s_y") * F.col("s_y")
    r2_num = sst - F.col("n") * F.col("sse_c2").cast(_D38)
    return folds.select(
        "n",
        "sae_c",
        "sse_c2",
        sst.cast("string").cast("double").alias("sst_c2"),
        (
            F.col("sae_c").cast("double") / F.col("n").cast("double") / 100
        ).alias("mae"),
        (
            F.sqrt(F.col("sse_c2").cast("double") / F.col("n").cast("double"))
            / 100
        ).alias("rmse"),
        (
            r2_num.cast("string").cast("double")
            / sst.cast("string").cast("double")
        ).alias("r2"),
    )


# `eval_fairness_auc_gap` — the fairness slice the eval suite was
# missing: the SAME exact tie-corrected Mann-Whitney AUC as
# `eval_auc_rank`, computed per demographic group (deterministic md5
# split of users — the fixture convention standing in for a real
# protected attribute), plus the absolute AUC gap between groups.  A
# model can clear the aggregate-AUC bar while ranking one group's
# positives far worse; the gap is the readout fairness reviews gate on
# (equality of opportunity's ranking analogue).
#
# Exactness: each group's rank sum is the eval_auc_rank integer
# identity (2S = Σ cnt_pos·(2·cum_before + cnt + 1)) over that group's
# OWN distinct-score frame, cumulative counts from the shared two-level
# prefix (per-group frames stay score-range-bucketed — no
# partition-by-constant corpus window); both AUCs and the gap are
# identical double expressions over DECIMAL(38,0) folds, decimal →
# double via the varchar bridge on the DuckDB side.
#
# Scale shape: one user-keyed aggregate (group + score + label ride the
# same shuffle), then per-group distinct-score frames; everything after
# is score-domain-sized.

def _duck_leg(g: int) -> str:
    return f"""
    per_user_{g} AS (
      SELECT CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents,
             CASE WHEN CAST(COUNT(CASE WHEN event_type = 'purchase'
                                       THEN 1 END) AS BIGINT) * 5
                       > CAST(COUNT(*) AS BIGINT)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos
      FROM events
      GROUP BY user_id
      HAVING {_duck_hash_mod("user_id", "#grp", 2)} = {g}
    ), by_score_{g} AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS cnt_pos
      FROM per_user_{g} GROUP BY cents
    ), ranked_{g} AS (
      SELECT cnt, cnt_pos,
             COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM by_score_{g}
    ), folded_{g} AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_users,
             CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(cnt_pos AS DECIMAL(19,0))
                      * CAST(2 * cum_before + cnt + 1 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS s2_pos
      FROM ranked_{g}
    )"""


def _duck_auc(g: int) -> str:
    return (
        f"""({_o_d2d(f"(SELECT s2_pos FROM folded_{g})"
                     f" - CAST((SELECT n_pos FROM folded_{g}) AS DECIMAL(19,0))"
                     f" * CAST((SELECT n_pos FROM folded_{g}) + 1 AS DECIMAL(19,0))")}"""
        f" / (2.0 * CAST((SELECT n_pos FROM folded_{g}) AS DOUBLE)"
        f" * CAST((SELECT n_neg FROM folded_{g}) AS DOUBLE)))"
    )


@query(
    "eval_fairness_auc_gap",
    oracle=f"""
    WITH {_duck_leg(0)}, {_duck_leg(1)}
    SELECT (SELECT n_users FROM folded_0) AS n_a,
           (SELECT n_pos FROM folded_0) AS pos_a,
           {_duck_auc(0)} AS auc_a,
           (SELECT n_users FROM folded_1) AS n_b,
           (SELECT n_pos FROM folded_1) AS pos_b,
           {_duck_auc(1)} AS auc_b,
           ABS({_duck_auc(0)} - {_duck_auc(1)}) AS auc_gap
    """,
)
def eval_fairness_auc_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact AUC + gap — see the notes above."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.expr(_CENTS_SQL)).cast("bigint").alias("cents"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)).cast(
                "bigint"
            )
            * 5
            > F.count(F.lit(1)).cast("bigint"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pos"),
    ).withColumn("grp", _spark_hash_mod(F.col("user_id"), "#grp", 2))

    def _fold(g: int) -> DataFrame:
        by_score = (
            per_user.where(F.col("grp") == g)
            .groupBy("cents")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("pos").cast("bigint").alias("cnt_pos"),
            )
        )
        ranked = cum_before(by_score, "cents", "cnt", _AUC_BUCKET)
        return ranked.agg(
            F.sum("cnt").cast("bigint").alias(f"n_{g}"),
            F.sum("cnt_pos").cast("bigint").alias(f"pos_{g}"),
            F.sum(F.col("cnt") - F.col("cnt_pos"))
            .cast("bigint")
            .alias(f"neg_{g}"),
            F.sum(
                F.col("cnt_pos").cast(_D19)
                * (
                    F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1)
                ).cast(_D19)
            )
            .cast("decimal(38,0)")
            .alias(f"s2_{g}"),
        )

    both = _fold(0).crossJoin(F.broadcast(_fold(1)))

    def _auc(g: int):
        u2 = (
            F.col(f"s2_{g}")
            - F.col(f"pos_{g}").cast(_D19)
            * (F.col(f"pos_{g}") + F.lit(1)).cast(_D19)
        ).cast("double")
        return u2 / (
            F.lit(2.0)
            * F.col(f"pos_{g}").cast("double")
            * F.col(f"neg_{g}").cast("double")
        )

    return both.select(
        F.col("n_0").alias("n_a"),
        F.col("pos_0").alias("pos_a"),
        _auc(0).alias("auc_a"),
        F.col("n_1").alias("n_b"),
        F.col("pos_1").alias("pos_b"),
        _auc(1).alias("auc_b"),
        F.abs(_auc(0) - _auc(1)).alias("auc_gap"),
    )


# `eval_kendall_tau` — Kendall's τ_a between the shared synthetic
# model score (eval_metrics.CAL_SCORED_SQL) and a second
# deterministic score, computed the SCALE-SAFE way: a FIXED-SIZE
# deterministic sample (top-2000 by md5(id) — exactly N rows at any
# corpus size, TakeOrderedAndProject, the same draw in both engines)
# reduced to the JOINT HISTOGRAM of (x, y) score cells (one groupBy),
# then concordant / discordant / tied pair counts over histogram-cell
# pairs weighted by n_a·n_b.  Pair work is O(min(sample, domain)²),
# constant in corpus size — the first (sample-free) version measured
# 9.6× wall at the 10× replica because cells don't saturate the 951²
# domain until the corpus far exceeds it (round-9 scale study);
# rank correlation over a fixed uniform sample is also how production
# systems compute it.  τ_a = (C − D) / C(N,2) is an exact
# integer ratio; τ_b's denominator needs a sqrt, so the face reports
# the τ_b pieces (tie-corrected marginals) as exact integers and τ_a
# as the headline double.
#
# Cross-engine determinism: md5-derived randomness (the
# curation_dq.py:281 idiom), integer tallies, each final double ONE
# identical expression in both engines; no ln(), no decimal casts.

# --------------------------------------------------------------------------
# eval_kendall_tau
# --------------------------------------------------------------------------

# second deterministic score, same label signal through different noise
_Y_SCORE_DUCK = (
    f"{_duck_hash_mod('vec_id', '#kt2', 600)}"
    " + CASE WHEN label < 5 THEN 300 ELSE 100 END"
)


_KT_SAMPLE = 2000  # fixed-size deterministic sample: pair work is
# O(sample²) at ANY corpus size.  Without it the histogram-pair join
# is quadratic until the corpus saturates the score domain — measured
# 9.6× wall at the 10× replica (round-9 scale study), the exact
# failure mode this cap removes.  ORDER BY md5(id) LIMIT N is the
# engine-identical "uniform sample of exactly N" idiom
# (TakeOrderedAndProject on the Spark side — never a global sort).


@query(
    "eval_kendall_tau",
    oracle=f"""
    WITH sample AS (
      SELECT vec_id, label FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ktsample'), vec_id
      LIMIT {_KT_SAMPLE}
    ), scored AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             {_duck_hash_mod("vec_id", "#cal", 600)}
               + CASE WHEN label < 5 THEN 350 ELSE 50 END AS x,
             {_Y_SCORE_DUCK} AS y
      FROM sample
    ), hist AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY x, y
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS tie_both
      FROM hist
    ), pairs AS (
      SELECT
        CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS concordant,
        CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS discordant,
        CAST(SUM(CASE WHEN a.x = b.x AND a.y < b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS tie_x_only,
        CAST(SUM(CASE WHEN a.x < b.x AND a.y = b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS tie_y_only
      FROM hist a JOIN hist b
        ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)
    )
    SELECT t.big_n AS n,
           CAST(t.big_n * (t.big_n - 1) // 2 AS BIGINT) AS n_pairs,
           p.concordant, p.discordant,
           p.tie_x_only, p.tie_y_only, t.tie_both,
           CAST(p.concordant - p.discordant AS DOUBLE)
             / CAST(t.big_n * (t.big_n - 1) // 2 AS DOUBLE) AS tau_a
    FROM pairs p, tot t
    """,
)
def eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ_a via the joint score histogram — see the notes
    above.  The only join is histogram-cell × histogram-cell
    (score-domain-bounded, ≤ 951² cells whatever the corpus size);
    the corpus itself is touched once by the groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.select("vec_id", "label")
        .orderBy(
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit("#ktsample"))
            ),
            "vec_id",
        )
        .limit(_KT_SAMPLE)
    )
    scored = sample.select(
        (
            _spark_hash_mod(F.col("vec_id"), "#cal", 600)
            + F.when(F.col("label") < 5, 350).otherwise(50)
        ).alias("x"),
        (
            _spark_hash_mod(F.col("vec_id"), "#kt2", 600)
            + F.when(F.col("label") < 5, 300).otherwise(100)
        ).alias("y"),
    )
    # the histogram is consumed three times (self-join both sides +
    # totals); checkpoint it so the corpus is scanned ONCE — without
    # this the plan re-derives hist per consumer (3 parquet scans)
    hist = (
        scored.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum(
            (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
        ).cast("bigint").alias("tie_both"),
    )
    a, b = hist.alias("a"), hist.alias("b")
    lt = F.col("a.x") < F.col("b.x")
    pairs = (
        a.join(
            b,
            lt | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
        )
        .agg(
            F.sum(
                F.when(lt & (F.col("a.y") < F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("concordant"),
            F.sum(
                F.when(lt & (F.col("a.y") > F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("discordant"),
            F.sum(
                F.when((F.col("a.x") == F.col("b.x"))
                       & (F.col("a.y") < F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("tie_x_only"),
            F.sum(
                F.when(lt & (F.col("a.y") == F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("tie_y_only"),
        )
    )
    n_pairs = (F.col("big_n") * (F.col("big_n") - 1) / 2).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            F.col("big_n").alias("n"),
            n_pairs.alias("n_pairs"),
            "concordant", "discordant",
            "tie_x_only", "tie_y_only", "tie_both",
            (
                (F.col("concordant") - F.col("discordant")).cast("double")
                / n_pairs.cast("double")
            ).alias("tau_a"),
        )
    )


# `eval_rank_rbo` — Rank-Biased Overlap (Webber et al., TOIS 2010),
# truncated RBO@10 with p=0.9, between the full-precision cosine
# ranking and the 16-dim-prefix (matryoshka-style) ranking for one
# probe — THE standard top-weighted "how much did my cheap ranking
# disagree with the real one" metric, completing recall@k / MRR /
# nDCG / MAP / Kendall.  Per-depth overlaps |A_d ∩ B_d| come from
# max(rank_a, rank_b) prefix counts (pure integers); the p-powers are
# Python-computed constants embedded as EXACT decimal expansions in
# both engines (the nDCG idiom — in-engine POWER() is libm-dependent,
# and DuckDB's literal parse is not correctly rounded on shortest
# reprs); the depth fold runs in one fixed order.

# --------------------------------------------------------------------------
# eval_rank_rbo
# --------------------------------------------------------------------------

_RBO_K = 10
_RBO_QID = 7
_PREFIX = 16
# p-powers folded left in Python, embedded as exact decimal expansions
# (a double's exact expansion is finite and parses exactly — the nDCG
# idiom; POWER(0.9, d) in-engine is libm-dependent)
_RBO_POWS = [1.0]
for _ in range(_RBO_K - 1):
    _RBO_POWS.append(_RBO_POWS[-1] * 0.9)


def _pow_lit(d: int) -> str:
    return f"CAST('{format(_Dec(_RBO_POWS[d]), 'f')}' AS DOUBLE)"


_O_CONTRIB = " + ".join(
    f"({_pow_lit(d - 1)} * ov{d} / {d}.0)" for d in range(1, _RBO_K + 1)
)
_O_OVS = ", ".join(
    f"CAST(COUNT(*) FILTER (WHERE m <= {d}) AS BIGINT) AS ov{d}"
    for d in range(1, _RBO_K + 1)
)


@query(
    "eval_rank_rbo",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (
      SELECT emb AS q_emb FROM e WHERE vec_id = {_RBO_QID}
    ), ranked AS (
      SELECT e.vec_id,
             ROW_NUMBER() OVER (ORDER BY
               {o_cosine("e.emb", "q.q_emb")} DESC, e.vec_id) AS rank_a,
             ROW_NUMBER() OVER (ORDER BY
               {o_cosine(f"e.emb[1:{_PREFIX}]", f"q.q_emb[1:{_PREFIX}]")}
               DESC, e.vec_id) AS rank_b
      FROM e CROSS JOIN q
    ), m AS (
      SELECT GREATEST(rank_a, rank_b) AS m FROM ranked
      WHERE rank_a <= {_RBO_K} AND rank_b <= {_RBO_K}
    ), ovs AS (SELECT {_O_OVS} FROM m)
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(900 AS BIGINT) AS p_milli,
           ov1, ov5, ov10,
           0.1 * ({_O_CONTRIB}) AS rbo
    FROM ovs
    """,
)
def eval_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated RBO@10 between the full and 16-dim-prefix cosine
    rankings — see the notes above.  The corpus is scanned once
    against one broadcast probe; both rank windows ride the same
    scored frame; everything after the rank filter is a ≤10-row
    fold."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id") == _RBO_QID).select(
        F.col("emb").alias("q_emb")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        cosine_similarity(F.col("emb"), F.col("q_emb")).alias("sim_a"),
        cosine_similarity(
            F.slice(F.col("emb"), 1, _PREFIX),
            F.slice(F.col("q_emb"), 1, _PREFIX),
        ).alias("sim_b"),
    )

    # top-k FIRST via orderBy+limit (TakeOrderedAndProject — each
    # partition keeps its local k, the driver merges k·parts rows),
    # THEN rank the ≤10-row frames: ranking the corpus with an
    # unpartitioned window would funnel every row through one task —
    # exactly what the registry-wide window gate flags (and did, in
    # this query's first version)
    def topk(sim: str, rank: str):
        top = scored.orderBy(F.col(sim).desc(), F.col("vec_id")).limit(
            _RBO_K
        )
        return top.select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.col(sim).desc(), F.col("vec_id")))
            .alias(rank),
        )

    m = (
        topk("sim_a", "rank_a")
        .join(topk("sim_b", "rank_b"), "vec_id")
        .select(F.greatest("rank_a", "rank_b").alias("m"))
    )
    ovs = m.agg(
        *[
            F.sum(F.when(F.col("m") <= d, 1).otherwise(0))
            .cast("bigint")
            .alias(f"ov{d}")
            for d in range(1, _RBO_K + 1)
        ]
    )
    contrib = None
    for d in range(1, _RBO_K + 1):
        term = (
            F.lit(_RBO_POWS[d - 1]) * F.col(f"ov{d}") / F.lit(float(d))
        )
        contrib = term if contrib is None else contrib + term
    return ovs.select(
        F.lit(_RBO_K).cast("bigint").alias("k"),
        F.lit(900).cast("bigint").alias("p_milli"),
        "ov1", "ov5", "ov10",
        (F.lit(0.1) * contrib).alias("rbo"),
    )


# `eval_kendall_tau_exact` — the UNSAMPLED Kendall τ_a/τ_b pieces over
# the full embeddings corpus.  The default face (`eval_kendall_tau`,
# above) computes τ on a fixed md5 top-2000 sample —
# the right 100 TB estimator, but a silently different ESTIMAND from the
# textbook statistic.  This face restores the exact statistic for small
# corpora; above `_EXACT_SUBSET_CAP` (20k rows, r12) the estimand is the
# exact τ_a of the deterministic md5-top-20k subset — bounded, stable
# across engines, and documented rather than a refusal (the
# `mine_bitext_margin` bounded-subset precedent).  Unbounded, the
# histogram-pair join grows quadratically until the score domain
# saturates (measured 9.6× wall at the 10× replica before the cap —
# round-9 scale study, TUNING.md).
#
# At fixture scales (500 / 2000 rows) the cap is a no-op, so the oracle
# parity gate checks the truly exact full-corpus statistic end-to-end.
#
# Cross-engine determinism: integer hash scores, integer pair tallies,
# one final double division spelled identically in both engines.

# r12 (sf10 catch, the mine_bitext_margin bounded-subset precedent):
# above this row count the face computes the exact statistic on the
# deterministic md5-top-N subset instead of refusing — the histogram's
# distinct (x,y) cells keep growing until the 1200×1200 score domain
# saturates, and the non-equi cell-pair join is quadratic in cells
# (93k cells at 100k rows = 4.3e9 pair tests in BOTH engines).  20k
# keeps the full corpus through sf1 (bit-identical results at
# sf0.01/0.1/1) and caps the pair join at ~2e8 above it.  The SAME
# bound is in the oracle SQL, so both engines score the same subset.
_EXACT_SUBSET_CAP = 20_000


@query(
    "eval_kendall_tau_exact",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, label FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_EXACT_SUBSET_CAP}
    ), scored AS (
      SELECT {_duck_hash_mod("vec_id", "#cal", 600)}
               + CASE WHEN label < 5 THEN 350 ELSE 50 END AS x,
             {_duck_hash_mod("vec_id", "#kt2", 600)}
               + CASE WHEN label < 5 THEN 300 ELSE 100 END AS y
      FROM sub
    ), hist AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY x, y
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS tie_both
      FROM hist
    ), pairs AS (
      SELECT
        CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS concordant,
        CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS discordant,
        CAST(SUM(CASE WHEN a.x = b.x AND a.y < b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS tie_x_only,
        CAST(SUM(CASE WHEN a.x < b.x AND a.y = b.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS tie_y_only
      FROM hist a JOIN hist b
        ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)
    )
    SELECT t.big_n AS n,
           CAST(t.big_n * (t.big_n - 1) // 2 AS BIGINT) AS n_pairs,
           p.concordant, p.discordant,
           p.tie_x_only, p.tie_y_only, t.tie_both,
           CAST(p.concordant - p.discordant AS DOUBLE)
             / CAST(t.big_n * (t.big_n - 1) // 2 AS DOUBLE) AS tau_a
    FROM pairs p, tot t
    """,
)
def eval_kendall_tau_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall τ_a — full-corpus through 20k rows, the exact
    statistic of the deterministic md5-top-`_EXACT_SUBSET_CAP` subset
    above that (bounded estimand, notes above).  A no-op cap at
    every fixture scale, so the parity gate checks the unsampled
    statistic end-to-end."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        # deterministic md5-top-N subset: a no-op through sf1, the
        # bounded exact estimand above it (see _EXACT_SUBSET_CAP)
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_EXACT_SUBSET_CAP)
    )
    scored = emb.select(
        (
            _spark_hash_mod(F.col("vec_id"), "#cal", 600)
            + F.when(F.col("label") < 5, 350).otherwise(50)
        ).alias("x"),
        (
            _spark_hash_mod(F.col("vec_id"), "#kt2", 600)
            + F.when(F.col("label") < 5, 300).otherwise(100)
        ).alias("y"),
    )
    hist = (
        scored.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum(
            (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
        ).cast("bigint").alias("tie_both"),
    )
    a, b = hist.alias("a"), hist.alias("b")
    lt = F.col("a.x") < F.col("b.x")
    pairs = (
        a.join(
            b,
            lt | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
        )
        .agg(
            F.sum(
                F.when(lt & (F.col("a.y") < F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("concordant"),
            F.sum(
                F.when(lt & (F.col("a.y") > F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("discordant"),
            F.sum(
                F.when((F.col("a.x") == F.col("b.x"))
                       & (F.col("a.y") < F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("tie_x_only"),
            F.sum(
                F.when(lt & (F.col("a.y") == F.col("b.y")),
                       F.col("a.n") * F.col("b.n")).otherwise(0)
            ).cast("bigint").alias("tie_y_only"),
        )
    )
    n_pairs = (F.col("big_n") * (F.col("big_n") - 1) / 2).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            F.col("big_n").alias("n"),
            n_pairs.alias("n_pairs"),
            "concordant", "discordant",
            "tie_x_only", "tie_y_only", "tie_both",
            (
                (F.col("concordant") - F.col("discordant")).cast("double")
                / n_pairs.cast("double")
            ).alias("tau_a"),
        )
    )


# `eval_bleu_components` — the MT-eval member of the pair-verification
# family (ROUGE-2 gave the bigram multiset view; BLEU, Papineni 2002,
# adds CLIPPED n-gram precision at n = 1..2 and the brevity components):
# for every banded-LSH candidate pair, overlap_n = Σ_g min(m_cand(g),
# m_ref(g)) over n-gram TYPES, precision_n = overlap_n / cand_len_n,
# plus candidate/reference token lengths for the brevity penalty.  The
# face emits the exact INTEGER components and single-division ratios —
# the repo's cross-engine convention (eval_kendall_tau's sqrt-bearing
# denominator, the survival fold) keeps transcendentals (BLEU's
# exp/geometric mean) out of the hash while pinning every number the
# final score is computed from.
#
# Scale shape: BLEU rides the output-bound LSH candidate frame with
# per-doc n-gram TYPE counts joined per side (the rouge discipline).

def _spark_ngrams(t: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram, m) n-gram TYPE counts, JVM-side."""
    if n == 1:
        g = t.select("doc_id", F.explode("toks").alias("gram"))
    else:
        assert n == 2, "only 1- and 2-grams emitted (see the notes above)"
        g = t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with("
                    "slice(toks, 1, greatest(size(toks) - 1, 0)), "
                    "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                    "(a, b) -> concat(a, ' ', b))"
                )
            ).alias("gram"),
        )
    return g.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )


@query(
    "eval_bleu_components",
    oracle=f"""
    WITH {_O_PAIRS},
    t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    u1 AS (SELECT doc_id, unnest(toks) AS gram FROM t),
    c1 AS MATERIALIZED (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS m
      FROM u1 GROUP BY ALL),
    u2 AS (SELECT doc_id, toks[r.i] || ' ' || toks[r.i + 1] AS gram
           FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)),
    c2 AS MATERIALIZED (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS m
      FROM u2 GROUP BY ALL),
    lens AS MATERIALIZED (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
    ov1 AS (
      SELECT p.doc_id_a, p.doc_id_b,
             CAST(SUM(LEAST(a.m, b.m)) AS BIGINT) AS ov
      FROM pairs p
      JOIN c1 a ON a.doc_id = p.doc_id_a
      JOIN c1 b ON b.doc_id = p.doc_id_b AND a.gram = b.gram
      GROUP BY 1, 2),
    ov2 AS (
      SELECT p.doc_id_a, p.doc_id_b,
             CAST(SUM(LEAST(a.m, b.m)) AS BIGINT) AS ov
      FROM pairs p
      JOIN c2 a ON a.doc_id = p.doc_id_a
      JOIN c2 b ON b.doc_id = p.doc_id_b AND a.gram = b.gram
      GROUP BY 1, 2)
    SELECT p.doc_id_a, p.doc_id_b,
           la.n_tok AS cand_len, lb.n_tok AS ref_len,
           COALESCE(ov1.ov, 0) AS overlap_1,
           COALESCE(ov2.ov, 0) AS overlap_2,
           CAST(COALESCE(ov1.ov, 0) AS DOUBLE)
             / CAST(NULLIF(la.n_tok, 0) AS DOUBLE) AS p1,
           CAST(COALESCE(ov2.ov, 0) AS DOUBLE)
             / CAST(NULLIF(la.n_tok - 1, 0) AS DOUBLE) AS p2,
           la.n_tok >= lb.n_tok AS no_brevity_penalty
    FROM pairs p
    JOIN lens la ON la.doc_id = p.doc_id_a
    JOIN lens lb ON lb.doc_id = p.doc_id_b
    LEFT JOIN ov1 ON ov1.doc_id_a = p.doc_id_a AND ov1.doc_id_b = p.doc_id_b
    LEFT JOIN ov2 ON ov2.doc_id_a = p.doc_id_a AND ov2.doc_id_b = p.doc_id_b
    """,
)
def eval_bleu_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-1/2 clipped components per candidate pair — see the notes
    above.  doc_a plays candidate, doc_b reference."""
    from vector_ai_npm_spark.dedup.queries import dedup_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(spark, sf_dir).localCheckpoint(eager=True)
    t = docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    lens = t.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tok")
    ).localCheckpoint(eager=True)

    out = pairs
    for n, col in ((1, "overlap_1"), (2, "overlap_2")):
        cn = _spark_ngrams(t, n)
        ov = (
            pairs.join(
                cn.select(
                    F.col("doc_id").alias("doc_id_a"), "gram",
                    F.col("m").alias("ma"),
                ),
                "doc_id_a",
            )
            .join(
                cn.select(
                    F.col("doc_id").alias("doc_id_b"), "gram",
                    F.col("m").alias("mb"),
                ),
                ["doc_id_b", "gram"],
            )
            .groupBy("doc_id_a", "doc_id_b")
            .agg(F.sum(F.least("ma", "mb")).cast("bigint").alias(col))
        )
        out = out.join(ov, ["doc_id_a", "doc_id_b"], "left")

    la = lens.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_tok").alias("cand_len")
    )
    lb = lens.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_tok").alias("ref_len")
    )
    return (
        out.join(la, "doc_id_a")
        .join(lb, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b", "cand_len", "ref_len",
            F.coalesce("overlap_1", F.lit(0)).alias("overlap_1"),
            F.coalesce("overlap_2", F.lit(0)).alias("overlap_2"),
            (
                F.coalesce("overlap_1", F.lit(0)).cast("double")
                / F.nullif(F.col("cand_len"), F.lit(0)).cast("double")
            ).alias("p1"),
            (
                F.coalesce("overlap_2", F.lit(0)).cast("double")
                / F.nullif(F.col("cand_len") - 1, F.lit(0)).cast("double")
            ).alias("p2"),
            (F.col("cand_len") >= F.col("ref_len")).alias(
                "no_brevity_penalty"
            ),
        )
    )
